package graft.sources

import org.apache.hadoop.fs.{FileContext, Options, Path}
import org.apache.spark.sql.{Column, DataFrame, SaveMode, SparkSession}
import org.apache.spark.sql.catalyst.expressions.Literal
import org.apache.spark.sql.functions._
import org.apache.spark.sql.graft.Shim
import org.apache.spark.sql.types.{BooleanType, ByteType, IntegerType,
  LongType, ShortType, StringType, StructType}

/** Physical data layout beyond directories and buckets: multi-dimensional
  * clustering (Z-order) and small-file compaction. Neither changes query
  * results — both exist purely so scans at 100 TB touch less data, which is
  * why they are test-verified (files-touched metrics) rather than
  * oracle-registered.
  *
  * Z-ORDER: directory partitioning prunes on ONE dimension chain; queries
  * that range-filter on two independent columns (ts × symbol, price × qty)
  * leave the second predicate to row-group min/max stats, which are useless
  * when the write order is uncorrelated with that column. Sorting by the
  * Z-value — interleaved bits of rank-bucketed dimensions — makes every
  * output file a hyper-rectangle-ish region of the filter space, so BOTH
  * predicates skip whole files/row-groups. The Z-value is a pure projection
  * (width_bucket + shiftleft/bitwise-OR fold — codegen'd, no UDF), and the
  * write is `repartitionByRange(z)` + sort-within: one range shuffle, the
  * same cost as any global sort.
  *
  * COMPACTION: streaming ingests and fine-grained partitions leave thousands
  * of KB-sized files; at 100 TB the scan's task-per-file scheduling and
  * footer reads dominate. [[compactVersionedPartitioned]] is the
  * reader-safe shape for a VERSIONED ROOT: each version is a manifest
  * (`vNNNNN.manifest`, a file list) and a tiny `_current` pointer names
  * the live one. Compaction writes the rewritten files and a NEW manifest
  * completely, then flips the pointer with one atomic file rename — a
  * concurrent reader resolves either the old or the new version, never a
  * half-written one. Old versions persist until [[vacuumVersions]], giving
  * in-flight readers a grace window.
  *
  * VERSIONED ROOTS have one format: `root/_current` names the live
  * version, `root/vNNNNN.manifest` lists that version's data files (with
  * schemas, per-file stats, deletion vectors and table properties), and
  * the files themselves live under `root/vNNNNN/` dirs — a file written by
  * one version stays referenced by later manifests until a rewrite drops
  * it. An unpartitioned root is a manifest with an empty partition schema
  * whose entries all sit in the leaf `""`.
  */
object Layout {

  /** Z-value: interleave `bits` bits of each column's rank bucket.
    *
    * Each column is first mapped to [0, 2^bits) with `width_bucket` over its
    * observed [min, max] — rank-bucketing copes with arbitrary value
    * distributions (the classic Z-order failure mode is interleaving raw
    * bits of skewed doubles). The per-column (min, max) pair comes in via
    * `ranges` so the projection stays deterministic and driver-computable.
    */
  def zValue(cols: Seq[Column], ranges: Seq[(Double, Double)], bits: Int): Column = {
    val n = 1 << bits
    val buckets = cols.zip(ranges).map { case (c, (lo, hi)) =>
      // width_bucket yields 1..n+1 over [lo, hi]; clamp into 0..n-1
      least(greatest(width_bucket(c.cast("double"), lit(lo), lit(hi), lit(n)) - 1,
        lit(0L)), lit((n - 1).toLong))
    }
    // Interleave: result bit (i*|cols| + j) = bit i of column j's bucket.
    (0 until bits).flatMap { i =>
      buckets.zipWithIndex.map { case (b, j) =>
        shiftleft(b.bitwiseAND(lit(1L << i)), i * cols.length + j - i)
      }
    }.reduce(_.bitwiseOR(_))
  }

  /** `df` placed for a Z-ordered write: range-partitioned on the Z-value of
    * `zCols` into `files` tasks, each sorted by it.
    *
    * Degenerate inputs degrade gracefully instead of failing the write job:
    * an all-null (or empty-input) dimension is dropped from the Z-value —
    * there is nothing to cluster on — and a constant dimension (lo == hi)
    * gets a widened range so `width_bucket` stays well-defined. If no
    * dimension survives, the data is placed un-clustered.
    */
  private def zOrdered(df: DataFrame, zCols: Seq[String], bits: Int,
                       files: Int): DataFrame = {
    val stats = df.select(zCols.flatMap(c =>
      Seq(min(col(c).cast("double")), max(col(c).cast("double")))): _*).head()
    val usable = zCols.indices.flatMap { i =>
      if (stats.isNullAt(2 * i) || stats.isNullAt(2 * i + 1)) None
      else {
        val lo = stats.getDouble(2 * i)
        val hi = stats.getDouble(2 * i + 1)
        Some((zCols(i), (lo, if (hi > lo) hi else lo + 1.0)))
      }
    }
    if (usable.isEmpty) df.repartition(files)
    else {
      val z = zValue(usable.map(u => col(u._1)), usable.map(_._2), bits)
      df.withColumn("__z", z)
        .repartitionByRange(files, col("__z"))
        .sortWithinPartitions("__z")
        .drop("__z")
    }
  }

  // ---------------------------------------------------------------- versioned

  private val CurrentFile = "_current"

  private def versionName(n: Int): String = f"v$n%05d"

  private def fileContext(spark: SparkSession): FileContext =
    FileContext.getFileContext(spark.sparkContext.hadoopConfiguration)

  /** Atomically point `root/_current` at `version`: write a sibling temp
    * file, then rename OVER the pointer, so a concurrent [[resolveCurrent]]
    * reads either the old or the new pointer in full, never a torn or
    * missing one. On HDFS-like filesystems `FileContext.rename(OVERWRITE)`
    * is a single atomic metadata op; on the LOCAL filesystem Hadoop
    * implements that overwrite as delete-then-rename — a reader can land in
    * the gap and find no pointer at all — so the local path goes through
    * `java.nio.Files.move(ATOMIC_MOVE)`, which is a true POSIX rename.
    */
  private def writePointer(spark: SparkSession, root: String, version: String): Unit = {
    val fc = fileContext(spark)
    val tmp = new Path(root, s"$CurrentFile.tmp")
    val out = fc.create(tmp,
      java.util.EnumSet.of(org.apache.hadoop.fs.CreateFlag.CREATE,
        org.apache.hadoop.fs.CreateFlag.OVERWRITE))
    try out.write(version.getBytes("UTF-8")) finally out.close()
    atomicReplace(spark, tmp, new Path(root, CurrentFile))
  }

  /** Rename `tmp` OVER `dst` so a concurrent reader sees the old or the
    * new file in full, never a missing or torn one — `FileContext.rename
    * (OVERWRITE)` on HDFS-like filesystems; a true POSIX rename on the
    * local filesystem (Hadoop's local overwrite is delete-then-rename,
    * which has a no-file window).
    */
  private def atomicReplace(spark: SparkSession, tmp: Path, dst: Path): Unit = {
    val fs = dst.getFileSystem(spark.sparkContext.hadoopConfiguration)
    val local = fs.isInstanceOf[org.apache.hadoop.fs.LocalFileSystem] ||
      fs.isInstanceOf[org.apache.hadoop.fs.RawLocalFileSystem]
    if (local)
      java.nio.file.Files.move(
        java.nio.file.Paths.get(tmp.toUri.getPath),
        java.nio.file.Paths.get(dst.toUri.getPath),
        java.nio.file.StandardCopyOption.REPLACE_EXISTING,
        java.nio.file.StandardCopyOption.ATOMIC_MOVE)
    else
      // bind the context to the DESTINATION's filesystem, not the default
      // FS — exportFileList accepts an arbitrary outFile, and a rename
      // through the default FileContext fails with a wrong-FS error after
      // the temp write already succeeded (tmp is always a sibling of dst)
      FileContext.getFileContext(dst.toUri,
        spark.sparkContext.hadoopConfiguration)
        .rename(tmp, dst, Options.Rename.OVERWRITE)
  }

  /** Read a specific version. The manifest's data schema is authoritative:
    * files written before a schema-evolving merge null-fill the added
    * columns by name, and a version that holds NO data files (a delete
    * whose predicate matched every row, an empty publish) reads as an
    * empty DataFrame of the manifest's schema.
    */
  def readVersion(spark: SparkSession, root: String, version: Int): DataFrame =
    ManifestIndex.dataFrame(spark, root,
      ManifestIndex.read(spark, root, versionName(version)))

  /** [[readVersion]] for the live version. */
  def readCurrent(spark: SparkSession, root: String): DataFrame =
    ManifestIndex.dataFrame(spark, root, currentManifest(spark, root)._2)

  /** Timestamp time travel (`AS OF <ts>`): the newest version committed at
    * or before `tsMillis`. The commit instant is the manifest file's mtime
    * — written once at commit and never touched again, so the mapping is
    * exact and stable. Fails loudly when `tsMillis` predates the oldest
    * retained version (vacuum may have dropped the one that was live then
    * — answering with a newer version would silently lie).
    */
  def versionAsOf(spark: SparkSession, root: String, tsMillis: Long): Int = {
    val rootPath = new Path(root)
    val fs = rootPath.getFileSystem(spark.sparkContext.hadoopConfiguration)
    // only manifests AT OR BEHIND the live pointer are commits — a writer
    // that claimed and wrote its manifest but crashed before the pointer
    // flip must never be served as committed data (review fix: a crashed
    // v4 would otherwise answer AS OF queries until recoverStaleClaims
    // deletes it, and the same query would then change its answer)
    val curN = currentVersionNumber(spark, root)
    val commits = fs.listStatus(rootPath).filter(_.isFile)
      .filter(_.getPath.getName.matches("v\\d{5}\\.manifest"))
      .map(st => (st.getPath.getName.stripSuffix(".manifest").substring(1).toInt,
        st.getModificationTime))
      .filter(_._1 <= curN)
      .sortBy(_._1)
    require(commits.nonEmpty,
      s"$root holds no committed manifest — not a manifest root")
    val atOrBefore = commits.filter(_._2 <= tsMillis)
    require(atOrBefore.nonEmpty,
      s"no version of $root existed at or before $tsMillis " +
        s"(oldest retained commit: ${commits.head._2} — vacuumed history " +
        "cannot be answered truthfully)")
    atOrBefore.last._1
  }

  /** Snapshot as of a wall-clock instant; see [[versionAsOf]]. */
  def readAsOf(spark: SparkSession, root: String, tsMillis: Long): DataFrame =
    readVersion(spark, root, versionAsOf(spark, root, tsMillis))

  /** Metadata-only EXACT `COUNT(*)` of the live version — O(#files)
    * driver work, zero data read; `None` when some file predates stats
    * collection (then count the data). See [[ManifestIndex.rowCount]].
    */
  def countRows(spark: SparkSession, root: String): Option[Long] =
    ManifestIndex.rowCount(currentManifest(spark, root)._2)

  /** Metadata-only per-column profile (nulls/min/max) of the live
    * version, folded from the manifest's file envelopes; see
    * [[ManifestIndex.columnProfile]] for the exactness contract.
    */
  def columnStats(spark: SparkSession, root: String): DataFrame =
    ManifestIndex.columnProfile(spark, currentManifest(spark, root)._2)

  /** Path of the live version dir under a versioned root. A root without
    * a `_current` pointer is not a table (or an init that never reached
    * its pointer flip) and fails loudly, naming the root.
    */
  def resolveCurrent(spark: SparkSession, root: String): String = {
    val fc = fileContext(spark)
    val in =
      try fc.open(new Path(root, CurrentFile))
      catch {
        case _: java.io.FileNotFoundException =>
          throw new IllegalArgumentException(
            s"$root is not a manifest root: it has no $CurrentFile pointer")
      }
    val version =
      try scala.io.Source.fromInputStream(in, "UTF-8").mkString.trim
      finally in.close()
    s"$root/$version"
  }

  /** Version number the live pointer resolves to — the boundary between
    * table history (≤ this) and in-flight/crashed claims (> this), which
    * time travel, history and vacuum all respect.
    */
  def currentVersionNumber(spark: SparkSession, root: String): Int = {
    val cur = resolveCurrent(spark, root)
    cur.substring(cur.lastIndexOf("/v") + 2).toInt
  }

  /** PUBLISH `df` wholesale as the next version of `root` (creating the
    * root at v0 when no pointer exists yet), with optional small metadata
    * (`name` → value) stored in that version's manifest properties under
    * [[ManifestIndex.PublishPrefix]] — so the rows and their metadata flip
    * together with the one pointer rename, and a crash before the flip
    * leaves both at the previous version. This is the snapshot-publish
    * primitive the versioned artifacts commit through (ANN centroids and
    * codebooks, BPE merge tables): an artifact's rows and the metadata
    * that describes them must never be seen apart.
    *
    * One manifest commit with an empty partition spec: the frame's
    * partitions are written as they arrive, and the manifest names ONLY
    * the new files under the frame's own schema — nothing carries, no
    * schema is pinned, and each publish's metadata replaces the previous
    * publish's wholesale (a key left out is absent at that version).
    */
  def publishVersion(spark: SparkSession, root: String, df: DataFrame,
                     meta: Map[String, String] = Map.empty): String = graft.util.DmlTimer.timed {
    val header = ManifestIndex.TableManifest(df.schema, new StructType(), Nil,
      meta.map { case (k, v) => (ManifestIndex.PublishPrefix + k) -> v } +
        (ManifestIndex.OperationKey -> "PUBLISH"))
    def published(version: String) =
      header.copy(entries = writeEntries(spark, root, version, header, Nil, df))
    if (isVersionedRoot(spark, root))
      commit(spark, root, resolveCurrent(spark, root), "PUBLISH")(published)
    else {
      // a fresh root's v0, like initVersionedManifest: nothing to claim
      val v0 = versionName(0)
      ManifestIndex.write(spark, root, v0, published(v0))
      writePointer(spark, root, v0)
      s"$root/$v0"
    }
  }

  /** Export the live version's data-file list for EXTERNAL engines — the
    * symlink-format-manifest shape (Delta's Presto/Trino/Athena bridge):
    * one text file of absolute parquet paths, newline-separated, written
    * atomically (temp + rename), that an engine with no knowledge of the
    * versioned layout can glob-read directly (DuckDB:
    * `read_parquet(read_text-list)`; Trino: symlink table). Re-export
    * after each commit (or from a change-feed trigger) to follow the
    * table.
    *
    * REFUSED whenever plain files would LIE about the snapshot: any live
    * entry carrying a deletion vector (an external reader would resurrect
    * the deleted rows — [[purgeDeletedRows]] first), or a schema with
    * renames/drops pending (footers speak physical names the external
    * engine would surface — compaction re-homes them). Type-widened
    * columns export readable-but-narrow footers; the caller owns that
    * cast, as every symlink-manifest consumer does.
    *
    * An operational entry point: no query or SQL statement calls it; an
    * operator runs it by hand when wiring an external reader.
    *
    * @return number of data files listed
    */
  def exportFileList(spark: SparkSession, root: String, outFile: String): Int = {
    val (_, man) = currentManifest(spark, root)
    require(man.entries.forall(_.dv.isEmpty),
      "exportFileList: live entries carry deletion vectors — an external " +
        "reader of the raw files would resurrect deleted rows; run " +
        "purgeDeletedRows (or compact) first")
    val active = ManifestIndex.activeSchema(man.dataSchema)
    require(active.length == man.dataSchema.length &&
        active.forall(f => ManifestIndex.physicalName(f) == f.name),
      "exportFileList: schema has pending renames or dropped columns — " +
        "raw footers would surface physical names; compact to re-home first")
    // mixed specs lie too: hive-partitioning discovery over the list sees
    // inconsistent keys, and without it each file LOSES its dir-encoded
    // column — same refusal class as the COW writers (review fix)
    requireUniformSpec(man, "exportFileList")
    val paths = man.entries.map(e =>
      ManifestIndex.absEntryPath(root, e.path).toString).sorted
    val out = new Path(outFile)
    val fs = out.getFileSystem(spark.sparkContext.hadoopConfiguration)
    fs.mkdirs(out.getParent)
    // unique temp + atomic overwrite-rename: a poller never sees a missing
    // list, and concurrent exporters cannot publish each other's bytes; a
    // failed attempt deletes its temp (an external engine globbing the
    // export dir must never pick up an orphaned .tmp as input)
    val tmp = new Path(outFile + s".tmp-${java.util.UUID.randomUUID}")
    try {
      val os = fs.create(tmp, true)
      try os.write((paths.mkString("\n") + "\n").getBytes("UTF-8"))
      finally os.close()
      atomicReplace(spark, tmp, out)
    } catch {
      case e: Throwable =>
        try fs.delete(tmp, false) catch { case _: Throwable => () }
        throw e
    }
    paths.size
  }

  /** Partition column names of a root's live version — what a caller
    * composing row-level DML needs to know which assignments move rows
    * across leaves ([[mergeIntoVersionedRows]] supports that;
    * [[updateVersionedRows]] refuses it). Empty for an unpartitioned root.
    */
  def partitionColumns(spark: SparkSession, root: String): Seq[String] =
    currentManifest(spark, root)._2.partitionSchema.fieldNames.toSeq

  /** Reader-safe compaction — the maintenance pass that pays down the
    * small files a streaming writer (`graft-sink`) accretes: every
    * micro-batch commits its own files, so a hot partition ends up with
    * one small file per batch. Fragmentation is diagnosed
    * FROM the manifest (no directory listing): only leaves with more than
    * `maxFiles` data files (or an average file under `targetBytes/2`) are
    * rewritten — all of them in one write job ([[rewriteEntries]]) unless
    * z-ordered — each to ~`targetBytes` files; every healthy leaf carries
    * as a manifest entry, unread — compaction cost tracks the FRAGMENTED
    * partitions, not the table. Leaves written under an EARLIER partition
    * spec are always rewritten (re-specced under the current one). Same
    * atomic pointer flip; old snapshots stay readable until
    * [[vacuumVersions]]. An unpartitioned root is one leaf.
    *
    * Optional `zOrderCols`: cluster each rewritten leaf with
    * Z-value placement ([[zValue]]) while it is being compacted anyway —
    * the rewrite is already paid for, so multi-dimensional data skipping
    * inside hot partitions comes at shuffle-of-one-leaf cost (the standard
    * OPTIMIZE ZORDER maintenance pairing). Healthy leaves keep their
    * existing clustering (they are not rewritten). Without an explicit
    * list the table's DECLARED clustering applies.
    *
    * @return (new live path, number of leaves rewritten)
    */
  def compactVersionedPartitioned(spark: SparkSession, root: String,
                                  targetBytes: Long,
                                  maxFiles: Int = 8,
                                  zOrderCols: Seq[String] = Nil): (String, Int) = graft.util.DmlTimer.timed {
    val (cur, man) = currentManifest(spark, root)
    // no explicit ZORDER list → the table's DECLARED clustering (S80)
    // applies, so OPTIMIZE / maintain on a declared table re-clusters
    // rewritten leaves without repeating the column list every call
    val zCols = if (zOrderCols.nonEmpty) zOrderCols else man.clusterColumns
    val currentSpec = man.partitionSchema.fieldNames.toSeq
    // leaves written under an EARLIER partition spec are always selected:
    // compaction is where a metadata-only repartitionTable converges to a
    // uniform physical layout (their rows re-land via partitionBy on the
    // current spec — one old leaf may fan out into many new ones)
    val respec = man.leaves.filter(l =>
      ManifestIndex.leafSpec(l) != currentSpec)
    val fragmented = man.byLeaf.flatMap { case (leaf, es) =>
      if (respec.contains(leaf)) None
      else {
        val bytes = es.map(_.size).sum
        // a leaf whose data genuinely needs ceil(bytes/target) > maxFiles
        // files is HEALTHY at that count — flagging it by maxFiles alone
        // made every maintenance run rewrite it forever (review fix:
        // maintain ∘ maintain ≡ maintain requires the gate to accept the
        // rewrite's own output)
        val want = math.max(1L, math.ceil(bytes.toDouble / targetBytes).toLong)
        val tooMany = es.length > math.max(maxFiles.toLong, want)
        val tooSmall = es.length > 1 && bytes / es.length < targetBytes / 2
        if (tooMany || tooSmall) Some(leaf -> bytes) else None
      }
    }
    // nothing fragmented → NO-OP, no version claimed (review fix)
    if (fragmented.isEmpty && respec.isEmpty) return (cur, 0)
    val live = commit(spark, root, cur, "COMPACT") { next =>
      val fresh =
        if (zCols.isEmpty)
          rewriteEntries(spark, root, next, man, fragmented.keySet ++ respec,
            targetBytes)
        else {
          // z-order keeps a per-leaf range sort; it does not apply to
          // respec'd rows (they fan across leaves — cluster them on the
          // NEXT compaction, once they live in current-spec leaves). The
          // respec write replaces the version dir, so it goes first; each
          // leaf's z-write then adds its files beside any respec'd ones.
          val respecd =
            if (respec.isEmpty) Nil
            else rewriteEntries(spark, root, next, man, respec, targetBytes)
          respecd ++ fragmented.toSeq.sortBy(_._1).flatMap { case (leaf, bytes) =>
            val files = math.max(1, math.ceil(bytes.toDouble / targetBytes).toInt)
            writeEntries(spark, root, next, man, Nil,
              zOrdered(ManifestIndex.dataFrame(spark, root, man, Some(Set(leaf)))
                .drop(man.partitionSchema.fieldNames: _*), zCols, 8, files),
              leaf = Some(leaf))
          }
        }
      man.copy(entries = fresh ++
        man.entries.filterNot(e =>
          fragmented.contains(e.leaf) || respec.contains(e.leaf)))
    }
    (live, fragmented.size + respec.size)
  }

  /** Schema evolution contract for merges: `updates` must keep every live
    * column (same type) and MAY add new ones — added columns null-fill on
    * rows carried from the live version. Dropping or retyping a column is
    * rejected loudly; silently nulling existing data is the one thing a
    * lakehouse merge must never do.
    */
  private def requireEvolvable(current: StructType, updates: StructType): Unit = {
    val up = updates.map(f => f.name -> f.dataType).toMap
    current.foreach { f =>
      require(up.contains(f.name),
        s"merge: updates drop live column ${f.name}; evolution may only ADD columns")
      require(up(f.name) == f.dataType,
        s"merge: column ${f.name} retyped ${f.dataType} -> ${up(f.name)}")
    }
  }

  /** The ONE commit protocol of every version after v0:
    *
    *  1. Claim `vN+1` (N from `cur`, the live path the writer read) under
    *     OPTIMISTIC CONCURRENCY CONTROL, by creating `root/vNNNNN.claim`
    *     with an exclusive create (`FileSystem.createNewFile`; on the
    *     local filesystem the OS's create-if-absent). Two writers that
    *     both resolved the same base version race for the same claim —
    *     exactly one wins; the loser gets a `ConcurrentModificationException`
    *     instead of silently overwriting the winner's version dir or
    *     flipping the pointer over a commit it never read (the lost-update
    *     anomaly). A writer that resolves AFTER the winner's flip claims
    *     the next number and serializes cleanly behind it. Claim files are
    *     tiny tombstones of committed version numbers; [[vacuumVersions]]
    *     sweeps them with their manifests.
    *  2. `build(next)` returns the new manifest; data files and DV
    *     sidecars land under `root/next` inside it.
    *  3. Stamp `commit.operation` (each version's manifest names ITS
    *     operation — the DESCRIBE HISTORY surface) and, with `txn`, the
    *     application's `txn.<app>` watermark.
    *  4. Make sure the version dir exists (so [[history]]'s listing and
    *     external tooling see every version), write the manifest, flip the
    *     pointer — a reader that resolves the new pointer always finds a
    *     complete manifest.
    *
    * Validation belongs BEFORE the call: a rejected write must not leave
    * a claim behind. Returns the new live path.
    */
  private def commit(spark: SparkSession, root: String, cur: String,
                     operation: String, txn: Option[(String, Long)] = None)
                    (build: String => ManifestIndex.TableManifest): String = {
    val curN = cur.substring(cur.lastIndexOf("/v") + 2).toInt
    val next = versionName(curN + 1)
    val claim = new Path(root, s"$next.claim")
    val fs = claim.getFileSystem(spark.sparkContext.hadoopConfiguration)
    // createNewFile's contract is return-false-if-present, but its
    // implementation is exists-then-create: two racers can BOTH pass the
    // exists check and the loser then gets the create's raw
    // FileAlreadyExistsException instead of `false`. Both outcomes are
    // the same event — lost the claim — and must surface as the SAME
    // retryable signal, or withCommitRetry propagates the raced loss as
    // a hard failure (observed under load; also the object-store
    // behavior, where conditional creates throw rather than return).
    // On the local filesystem even the create is check-then-open (no
    // O_EXCL), so two racers can BOTH "create" the claim and both write
    // the same version dir; the OS's exclusive create closes that window.
    val created =
      try {
        if (fs.getScheme == "file") {
          java.nio.file.Files.createFile(
            java.nio.file.Paths.get(fs.makeQualified(claim).toUri))
          true
        } else fs.createNewFile(claim)
      } catch {
        case _: org.apache.hadoop.fs.FileAlreadyExistsException => false
        case _: java.nio.file.FileAlreadyExistsException => false
        case e: java.io.IOException
            if e.getMessage != null &&
              e.getMessage.contains("already exists") => false
      }
    if (!created)
      throw new java.util.ConcurrentModificationException(
        s"version $next of $root is already claimed by a concurrent writer; " +
          "re-resolve the current version and retry")
    val m = build(next)
    fsOf(spark, root).mkdirs(new Path(root, next))
    ManifestIndex.write(spark, root, next, m.copy(properties = m.properties ++
      txn.map { case (app, batch) => ManifestIndex.TxnPrefix + app -> batch.toString } +
      (ManifestIndex.OperationKey -> operation)))
    writePointer(spark, root, next)
    s"$root/$next"
  }

  /** The ONE metadata-only commit: read the live manifest, `edit` it, and
    * [[commit]] the result as `operation`. Every validation and probe scan
    * runs inside `edit`, before the version is claimed. Timed here, once,
    * so every metadata DDL counts as table-history setup
    * ([[graft.util.DmlTimer]], which skips this frame, so the job
    * description still names the public entry point that called it).
    */
  private def alterManifest(spark: SparkSession, root: String, operation: String)
                           (edit: ManifestIndex.TableManifest => ManifestIndex.TableManifest)
      : String = graft.util.DmlTimer.timed {
    val (cur, man) = currentManifest(spark, root)
    val edited = edit(man)
    commit(spark, root, cur, operation)(_ => edited)
  }

  /** Whether `txn` presents a batch at or below the watermark the live
    * manifest stores for its application — a replayed batch, which the
    * idempotent writers no-op without reading it.
    */
  private def replayed(man: ManifestIndex.TableManifest,
                       txn: Option[(String, Long)]): Boolean =
    txn.exists { case (app, batch) =>
      man.properties.get(ManifestIndex.TxnPrefix + app).exists(_.toLong >= batch)
    }

  /** Run a versioned-layout commit under OCC RETRY: when the closure loses
    * the version-claim race (`ConcurrentModificationException` from
    * [[commit]]), re-run it after a bounded, jittered backoff — up to
    * `maxAttempts` total attempts, then rethrow.
    *
    * This is correct because every Layout writer commits through
    * [[commit]] against the base it resolved from `_current` at the TOP of
    * the same call: the retry is a genuine re-read of the new base, a
    * re-run of the merge/delete against it, and a fresh claim — serialized
    * behind the winner, never a blind re-flip of the pointer over a commit
    * it did not read. Pass the WHOLE operation as the closure (not a
    * pre-resolved path), or the re-read guarantee is lost.
    *
    * Backoff is exponential from `baseBackoffMs` with full jitter
    * (`U[0, base·2^attempt)`, capped at 2 s) — two writers that collided
    * once shouldn't collide again on the same schedule. Other exceptions
    * (schema rejection, IO) propagate immediately: only the claim race is
    * retryable by construction.
    */
  def withCommitRetry[T](maxAttempts: Int = 5, baseBackoffMs: Long = 50)
                        (commit: => T): T = {
    require(maxAttempts >= 1, s"maxAttempts must be >= 1, got $maxAttempts")
    var attempt = 0
    while (true) {
      attempt += 1
      try return commit
      catch {
        case e: java.util.ConcurrentModificationException =>
          if (attempt >= maxAttempts) throw e
          val cap = math.min(2000L, baseBackoffMs << math.min(attempt, 5))
          Thread.sleep(java.util.concurrent.ThreadLocalRandom.current()
            .nextLong(cap + 1))
      }
    }
    throw new IllegalStateException("unreachable")
  }

  // ------------------------------------------------- partitioned + key-pruned

  /** Right-size a PARTITIONED write: one shuffle by the partition columns
    * so each touched hive leaf is written by `graft.write.filesPerLeaf`
    * tasks (default 1) instead of by EVERY upstream task. Without it,
    * `partitionBy` fans a write out to (upstream partitions × touched
    * leaves) files — a small batch arriving on a 32-split scan lands
    * ~160 sliver files per version that every later listing, scan and
    * manifest pays for (q171's setup carried 160-path listings and
    * 101-task probe scans of tiny versions). One file per touched leaf
    * per commit is the standard optimized-write policy for incremental
    * DML — batches are O(batch), compaction owns long-term sizing — and
    * holds at scale; a BULK load into few leaves should raise
    * `graft.write.filesPerLeaf` so each leaf's write parallelizes (the
    * salt splits leaves deterministically by row-content hash).
    */
  private def leafSized(df: DataFrame, pcols: Seq[String]): DataFrame = {
    // a frame the caller DELIBERATELY placed (its plan is rooted at a
    // repartition/repartitionByRange/coalesce, possibly under projections
    // — a projection preserves physical placement — or at a global sort,
    // whose range partitioning is equally deliberate) is written as
    // placed: range-disjoint file envelopes and hand-built fragmentation
    // are writer-level layout decisions this policy must not undo
    import org.apache.spark.sql.catalyst.plans.logical.{LogicalPlan, Project, RepartitionOperation, Sort, SubqueryAlias}
    @annotation.tailrec
    def placed(p: LogicalPlan): Boolean = p match {
      case _: RepartitionOperation => true
      case st: Sort if st.global => true
      case st: Sort => placed(st.child) // sortWithinPartitions over a repartition
      case pr: Project => placed(pr.child)
      case sa: SubqueryAlias => placed(sa.child)
      case _ => false
    }
    val callerPlaced = placed(df.queryExecution.logical)
    val files = df.sparkSession.conf.getOption("graft.write.filesPerLeaf")
      .map { s =>
        require(scala.util.Try(s.trim.toInt).isSuccess,
          s"graft.write.filesPerLeaf must be an integer, got '$s'")
        s.trim.toInt
      }.getOrElse(1)
    def quoted(c: String) = col(s"`$c`")
    if (pcols.isEmpty || callerPlaced || files <= 0) df
    else if (files == 1)
      // REBALANCE (AQE-advisory), not a hard repartition: the hard form
      // pinned a full 32-reducer exchange on every tiny commit (the r18
      // driver measured 10–26 % setup regressions on small-batch DML —
      // q150 3.9 → 2.8 s steady-state with this hint, same-window
      // per-job Probe ×4). The rebalance shuffle keys on the partition columns
      // so each touched leaf still lands in one task (one file per leaf,
      // ChangeFeedSpec's pin) while AQE coalesces a small batch's reduce
      // side to ~1 task — and at bulk shape SPLITS a leaf bigger than the
      // advisory size into sized files instead of one giant file, which
      // is strictly better than the hard form at 100 TB too.
      df.hint("rebalance", pcols.map(quoted): _*)
    else {
      // explicit numPartitions: a bare expression-repartition is an AQE
      // coalescing target, which would fold the salt buckets back into
      // one task per leaf and undo the requested fan-out
      val n = df.sparkSession.conf.get("spark.sql.shuffle.partitions").toInt
      df.repartition(math.max(n, files), pcols.map(quoted) :+
        pmod(rowHash(df), lit(files)): _*)
    }
  }

  /** Row-content hash — the salt that splits one leaf's rows
    * deterministically across several files. Map-typed values cannot be
    * hashed and add nothing to the split, so they are left out.
    */
  private def rowHash(df: DataFrame): Column = {
    def hasMap(dt: org.apache.spark.sql.types.DataType): Boolean = dt match {
      case _: org.apache.spark.sql.types.MapType => true
      case a: org.apache.spark.sql.types.ArrayType => hasMap(a.elementType)
      case st: StructType => st.fields.exists(f => hasMap(f.dataType))
      case _ => false
    }
    hash(struct(df.schema.fields.toSeq.filterNot(f => hasMap(f.dataType))
      .map(f => col(s"`${f.name}`")): _*))
  }

  /** Create a versioned root at `root` with `df` as version 0, partitioned
    * on `pcols` (`root/v00000/a=1/b=2/part-*.parquet` for multi-level
    * specs; empty for an unpartitioned root). The version is described by
    * `root/v00000.manifest` — a file list with the table's schemas — and
    * every subsequent merge/delete/compact carries untouched partitions
    * forward as MANIFEST ENTRIES: a 1-row upsert into a 100 TB table costs
    * one partition's rewrite plus O(metadata), on object stores too.
    *
    * `bloomCols` declares per-file BLOOM-FILTER columns from version 0 on
    * ([[ManifestIndex.BloomKey]]): point lookups (`id = X`) on
    * high-cardinality columns skip files min/max envelopes can't.
    *
    * `initProperties` seeds v0's PROPERTIES verbatim (the [[deepClone]]
    * carry: constraints, markers, identity high-water, ledgers and the
    * bloom and cluster declarations all live there). Plumbing them into
    * the v00000 commit itself — instead of deleting and rewriting the
    * fresh manifest — means the clone root is never observable in a
    * broken state: a crash mid-clone leaves either no `_current` at all
    * (clean retry) or a complete v00000 (ADVICE r14: the
    * delete-then-rewrite window left an unrecoverable half-clone).
    */
  def initVersionedManifest(df: DataFrame, root: String,
                            pcols: Seq[String],
                            bloomCols: Seq[String] = Nil,
                            initProperties: Option[Map[String, String]] = None): String = graft.util.DmlTimer.timed {
    // re-init of a live root is REFUSED, not overwritten: rewriting v00000
    // would destroy data files newer manifests still reference via
    // carry-forward — unrecoverable corruption (review fix; same guard as
    // cloneVersion)
    require(!isVersionedRoot(df.sparkSession, root),
      s"initVersionedManifest: $root is already a versioned root " +
        "(re-initializing would orphan every newer version's " +
        "carry-forward references) — write to a fresh root, or merge")
    val spark = df.sparkSession
    val v0 = versionName(0)
    val dataSchema = StructType(df.schema.filterNot(f => pcols.contains(f.name)))
    // validate BEFORE any write, against the incoming frame
    ManifestIndex.validateBloomColumns(bloomCols, dataSchema)
    val header = ManifestIndex.TableManifest(dataSchema,
      StructType(pcols.map(c => df.schema(c))), Nil,
      initProperties.getOrElse(Map(ManifestIndex.OperationKey -> "CREATE")))
    val declared =
      if (bloomCols.isEmpty) header
      else header.withColumnList(ManifestIndex.BloomKey, bloomCols)
    ManifestIndex.write(spark, root, v0, declared.copy(entries =
      writeEntries(spark, root, v0, declared, pcols, leafSized(df, pcols))))
    writePointer(spark, root, v0)
    s"$root/$v0"
  }

  /** Key-pruned MERGE (upsert): only leaves whose `pcol` value appears in
    * `updates` are rewritten (read with partition pruning, anti-joined on
    * `keys`, unioned with the updates); every untouched leaf carries into
    * the new manifest as a copied entry — zero filesystem operations per
    * untouched partition. The pointer flip is a single atomic rename, so
    * concurrent readers see pre- or post-merge, never a mix. An
    * unpartitioned root (`pcols` empty) is one leaf, rewritten whole.
    *
    * Schema evolution is checked against the MANIFEST schema even when no
    * existing leaf is rewritten (a pure-new-partition merge must not
    * narrow the table), and the committed manifest's data schema is the
    * evolved union, so carried old files null-fill added columns by name.
    *
    * Contract: `pcol` and the join `keys` must be NON-NULL (a null key
    * never matches its live row under join equality, and a null partition
    * value falls into the hive default-partition leaf), and `pcol` must be
    * stable under updates for a given key (it is effectively part of the
    * key). A key whose update arrives with a different partition value
    * than its live row is treated as a new row in the new partition; the
    * stale row in the old partition is NOT removed — exactly the failure
    * mode every partition-pruned lakehouse MERGE documents
    * ([[mergeIntoVersionedRows]] matches by key alone).
    *
    * @return the new live version path
    */
  def mergeVersionedPartitioned(spark: SparkSession, root: String,
                                updates: DataFrame, keys: Seq[String],
                                pcol: String): String =
    mergeVersionedPartitioned(spark, root, updates, keys, Seq(pcol))

  /** Multi-level variant; see the single-column overload for the full
    * contract (which applies per partition COLUMN TUPLE here).
    */
  def mergeVersionedPartitioned(spark: SparkSession, root: String,
                                updates0: DataFrame, keys: Seq[String],
                                pcols: Seq[String]): String = graft.util.DmlTimer.timed {
    val (cur, man) = currentManifest(spark, root)
    requireSpec(root, man, pcols, "mergeVersionedPartitioned")
    // a producer that still sends the NARROW type after a widenColumn is
    // upcast at the door (lossless by isWidening) — the schema contract
    // a type widening must not break is the incoming-writer's
    val updates = upcastToActive(man, updates0)
    requireEvolvable(
      StructType(ManifestIndex.activeSchema(man.dataSchema) ++
        man.partitionSchema), updates.schema)
    // writer-enforced CHECK constraints: incoming rows only — carried rows
    // satisfied them when they were written (induction), so validation
    // cost tracks the merge, not the table. Validation and the
    // affected-leaf derivation ride ONE groupBy aggregate (r18 perf).
    val affected = affectedLeavesChecked(updates, pcols, man.writerChecks,
      "merge updates", root)
    val existingAffected = man.leaves.intersect(affected)
    // UNIQUE: replace-by-key is leaf-confined here, so an incoming key
    // that lives in an UNAFFECTED leaf would survive alongside its new
    // image — probe those leaves too (key envelopes prune the scan)
    if (man.uniqueConstraints.nonEmpty) {
      requireUniqueKeysMatch(spark, man, keys, "mergeVersionedPartitioned")
      val unaffected = man.leaves.diff(affected)
      requireUniqueBatch(man, updates,
        if (unaffected.isEmpty) None
        else Some(ManifestIndex.dataFrame(spark, root, man, Some(unaffected))),
        "merge updates")
    }
    val merged =
      if (existingAffected.isEmpty) updates
      else {
        val existing = ManifestIndex.dataFrame(spark, root, man,
          Some(existingAffected))
        updates.unionByName(
          existing.join(updates.select(keys.map(col): _*).distinct(), keys, "left_anti"),
          allowMissingColumns = true)
      }
    // the evolved schema keeps each surviving column's PHYSICAL name; new
    // files are written under physical names so they agree with old footers
    // tombstoned (dropped) fields ride along unchanged: they keep their
    // physical names claimed so a re-add can never resurrect old footers
    val newDataSchema = StructType(ManifestIndex.carryPhysical(
      StructType(merged.schema.filterNot(f => pcols.contains(f.name))),
      man.dataSchema) ++ man.dataSchema.filter(ManifestIndex.isDropped))
    val physNames = newDataSchema.map(ManifestIndex.physicalName)
    // validate BEFORE claiming the next version — a rejected merge must
    // not leave an orphaned claim blocking every later writer
    require(physNames.distinct.length == physNames.length,
      s"schema evolution would duplicate a PHYSICAL column name " +
        s"(${physNames.mkString(",")}): an added column may not reuse a " +
        "renamed column's physical name")
    commit(spark, root, cur, "MERGE") { next =>
      val evolved = man.copy(dataSchema = newDataSchema)
      evolved.copy(entries = writeEntries(spark, root, next, evolved, pcols,
        leafSized(merged, pcols)) ++
        man.entries.filterNot(e => affected.contains(e.leaf)))
    }
  }

  /** Key-pruned DELETE: leaves containing at least one row matching
    * `predicate` are rewritten without those rows; all other leaves carry
    * as manifest entries, unread. When `predicate` references `pcol`,
    * Catalyst partition-prunes the match scan too, so a partition-scoped
    * delete never reads the rest of the table. A leaf whose every row
    * matches simply has no entries in the new manifest (its schema lives
    * in the manifest). A predicate matching nothing is a NO-OP.
    *
    * @return the new live version path (or the current one on no-op)
    */
  def deleteVersionedPartitioned(spark: SparkSession, root: String,
                                 predicate: Column, pcol: String): String =
    deleteVersionedPartitioned(spark, root, predicate, Seq(pcol))

  /** Multi-level variant of the key-pruned DELETE. */
  def deleteVersionedPartitioned(spark: SparkSession, root: String,
                                 predicate: Column, pcols: Seq[String]): String = graft.util.DmlTimer.timed {
    val (cur, man) = currentManifest(spark, root)
    requireSpec(root, man, pcols, "deleteVersionedPartitioned")
    val full = ManifestIndex.dataFrame(spark, root, man)
    val affected = affectedLeaves(
      full.filter(predicate).select(pcols.map(col): _*), pcols, root)
      .intersect(man.leaves)
    // no leaf holds a matching row → NO-OP, no version claimed (review
    // fix: the row-level delete documents this; the partition-pruned
    // path must not churn retention with byte-identical versions)
    if (affected.isEmpty) return cur
    commit(spark, root, cur, "DELETE") { next =>
      man.copy(entries = writeEntries(spark, root, next, man, pcols,
        ManifestIndex.dataFrame(spark, root, man, Some(affected))
          .filter(!coalesce(predicate, lit(false)))) ++
        man.entries.filterNot(e => affected.contains(e.leaf)))
    }
  }

  /** Row-level DELETE via DELETION VECTORS (merge-on-read) on a MANIFEST
    * root: instead of rewriting every file that holds a matching row —
    * [[deleteVersionedPartitioned]]'s copy-on-write shape, whose cost is
    * the BYTES of every touched leaf — this writes the matched rows'
    * `(file, row_index)` coordinates as a small parquet sidecar
    * (`vNNNNN/_dv/`) and re-points the touched entries' manifest lines at
    * it. Cost is O(matched rows) written + O(#files) metadata, whatever the
    * table size: the sparse-delete primitive (GDPR erasure, dedup
    * kill-lists, late-arriving retractions) a 100 TB table needs, where
    * deleting 0.1% of rows spread across every file must not cost a table
    * rewrite. Readers pay one broadcast anti-join (build side = deleted
    * positions) until [[purgeDeletedRows]] or any leaf rewrite
    * (merge/compaction) materializes the deletes.
    *
    * Successive row-deletes ACCUMULATE: positions already carried by a
    * touched file's DV are folded into the new commit's sidecar (the read
    * the predicate ran against had the old DV applied, so the sets are
    * disjoint). An entry whose every row is deleted — known when stats
    * carry its row count — is dropped from the manifest outright. A
    * predicate matching nothing is a NO-OP: no version is committed and
    * the live path is returned unchanged.
    *
    * Time travel, [[changeFeed]] (a DV change marks its leaf changed; the
    * deleted rows surface as `delete` events), incremental views, OCC
    * ([[withCommitRetry]]) and [[vacuumVersions]] (DV sidecars are
    * reference-counted like data files) all compose with this.
    *
    * @return the new live version path (or the current one on no-op)
    */
  def deleteVersionedRows(spark: SparkSession, root: String,
                          predicate: Column): String = graft.util.DmlTimer.timed {
    val (cur, man) = currentManifest(spark, root)
    // current snapshot (existing DVs applied — already-deleted rows can't
    // re-match) with the file/position coordinates each row lives at.
    // The matched set is PINNED so the predicate is evaluated once: the
    // count action, the sidecar write (and, in the update path, the image
    // write) must all see the same rows, or a non-deterministic predicate
    // would commit DV counts inconsistent with the stored positions.
    val snap = ManifestIndex.dataFrame(spark, root, man, lineage = true)
    val matched = snap.filter(predicate)
      .persist(org.apache.spark.storage.StorageLevel.MEMORY_AND_DISK)
    try rowLevelPlan(spark, root, man, matched) match {
      case None => cur
      case Some((counts, allPos)) =>
        commit(spark, root, cur, "DELETE ROWS") { next =>
          man.copy(entries = writeDvSidecar(spark, root, man, counts, allPos, next))
        }
    } finally matched.unpersist(false)
  }

  /** Row-level UPDATE via deletion vectors (merge-on-read) on a MANIFEST
    * root: the matched rows' old images are DV'd out of their files (see
    * [[deleteVersionedRows]] — no data file rewritten) and their updated
    * images are APPENDED as new files in the same leaves, one commit.
    * Cost is O(matched rows) written + O(#files) metadata — the sparse
    * UPDATE a 100 TB table needs when a predicate touches a few rows in
    * many files.
    *
    * `set` maps column name → new-value expression (evaluated against the
    * matched row, so `col("v") * 2` works). Partition columns cannot be
    * assigned (the row would have to move leaves — delete + merge instead),
    * and every assigned column must already exist (schema evolution belongs
    * to merge). A no-match predicate is a NO-OP. The matched set is pinned
    * (persist) so positions and images come from one evaluation of the
    * predicate.
    *
    * @return the new live version path (or the current one on no-op)
    */
  def updateVersionedRows(spark: SparkSession, root: String,
                          predicate: Column, set: Map[String, Column]): String = graft.util.DmlTimer.timed {
    require(set.nonEmpty, "updateVersionedRows: empty assignment set")
    val (cur, man) = currentManifest(spark, root)
    val pcols = man.partitionSchema.fieldNames.toSeq
    set.keys.foreach { k =>
      require(!pcols.contains(k),
        s"updateVersionedRows: cannot assign partition column '$k' — the row " +
          "would have to move leaves; delete the old rows and merge the new ones")
      require(ManifestIndex.activeSchema(man.dataSchema).fieldNames.contains(k),
        s"updateVersionedRows: unknown (or dropped) column '$k' " +
          "(schema evolution is merge's job)")
    }
    requireNoUniqueAssignment(spark, man, set.keys, "updateVersionedRows")
    val snap = ManifestIndex.dataFrame(spark, root, man, lineage = true)
    // pinned: positions AND images must come from ONE evaluation of the
    // predicate (see deleteVersionedRows)
    val matched = snap.filter(predicate)
      .persist(org.apache.spark.storage.StorageLevel.MEMORY_AND_DISK)
    try {
      val images = matched.drop(ManifestIndex.FileCol, ManifestIndex.PosCol)
        .withColumns(set)
      rowLevelPlan(spark, root, man, matched) match {
        case None => cur
        case Some((counts, allPos)) =>
          // writer-enforced CHECK constraints on the NEW images — after
          // the no-match short-circuit (a no-op must not pay a validation
          // scan: review fix) but still BEFORE any version is claimed
          requireConstraints(images, man.writerChecks, "updated rows")
          commit(spark, root, cur, "UPDATE ROWS") { next =>
            // updated images first (the write replaces the version dir; the
            // sidecar lands inside it afterwards)
            val fresh = writeEntries(spark, root, next, man, pcols,
              leafSized(images, pcols))
            man.copy(entries = fresh ++
              writeDvSidecar(spark, root, man, counts, allPos, next))
          }
      }
    } finally matched.unpersist(false)
  }

  /** Cast any incoming column whose type WIDENS-TO the manifest's active
    * type up to it (lossless by [[ManifestIndex.isWidening]]) — how the
    * write paths keep accepting narrow-typed producers after a
    * [[widenColumn]]. Everything else passes through untouched, so a
    * genuine type mismatch still fails loudly downstream.
    */
  private def upcastToActive(man: ManifestIndex.TableManifest,
                             df: DataFrame): DataFrame = {
    val activeTypes = ManifestIndex.activeSchema(man.dataSchema)
      .map(f => f.name -> f.dataType).toMap
    df.select(df.schema.map { f =>
      activeTypes.get(f.name) match {
        case Some(t) if t != f.dataType && ManifestIndex.isWidening(f.dataType, t) =>
          col(s"`${f.name}`").cast(t).as(f.name)
        case _ => col(s"`${f.name}`")
      }
    }: _*)
  }

  /** Keyed UPSERT via deletion vectors (merge-on-read MERGE) on a MANIFEST
    * root: live rows whose key appears in `updates` have their old images
    * DV'd out of their files, and EVERY update row (replacement or brand-new
    * key) is APPENDED as new files in its leaf — one commit, no data file
    * rewritten. This is [[mergeVersionedPartitioned]]'s row-level sibling,
    * and the cost model is the difference: copy-on-write merge re-WRITES
    * every affected leaf (right when updates cluster into few partitions);
    * this writes O(|updates|) bytes no matter how many files the matched
    * keys are scattered across — the sparse-upsert shape a 100 TB table
    * needs when a batch touches a few rows in many partitions.
    *
    * The matching scan reads (not rewrites) the table once, pre-filtered
    * by the updates' first-key [min, max] range so file-level envelope
    * skipping still prunes when keys cluster; matching is BY KEY ALONE, so
    * unlike the leaf-pruned merge a key whose update arrives with a NEW
    * partition value is handled correctly (old image DV'd wherever it
    * lives, new image lands in the new leaf) rather than leaving a stale
    * row behind.
    *
    * Contract (shared with merge): `keys` unique and non-null per batch.
    * Schema must match the active table exactly — no evolution here
    * (adding columns is [[mergeVersionedPartitioned]]'s job); narrow
    * producers after a [[widenColumn]] are upcast at the door. CHECK
    * constraints validate the incoming rows before any version is claimed.
    * An empty `updates` is a no-op.
    *
    * `txn = Some((appId, batchId))` makes the commit IDEMPOTENT per
    * application: the manifest stores `txn.<appId> = batchId` and a later
    * call presenting a batch id at or below the stored watermark no-ops
    * WITHOUT reading the updates — a replayed at-least-once batch
    * (checkpoint recovery, a re-run micro-batch) commits exactly once
    * instead of churning a content-identical version. The watermark rides
    * the properties line through every other writer's carry; a
    * [[restoreVersion]] rolls it back with everything else (a rollback
    * that un-happens a batch SHOULD re-accept it).
    *
    * @return the new live version path (or the current one on no-op)
    */
  def upsertVersionedRows(spark: SparkSession, root: String,
                          updates0: DataFrame, keys: Seq[String],
                          txn: Option[(String, Long)] = None): String = graft.util.DmlTimer.timed {
    require(keys.nonEmpty, "upsertVersionedRows: empty key set")
    val (cur, man) = currentManifest(spark, root)
    if (replayed(man, txn)) return cur
    val pcols = man.partitionSchema.fieldNames.toSeq
    // the incoming plan is executed several times below (empty probe,
    // constraint validation, key bounds, the semi-join build, the image
    // write) — PIN it once or a streaming micro-batch's lineage is
    // recomputed per job (review fix)
    val updates = upcastToActive(man, updates0)
      .persist(org.apache.spark.storage.StorageLevel.MEMORY_AND_DISK)
    try {
    val tableCols = (ManifestIndex.activeSchema(man.dataSchema) ++
      man.partitionSchema).map(f => f.name -> f.dataType).toMap
    require(updates.schema.forall(f => tableCols.get(f.name).contains(f.dataType)) &&
        updates.schema.length == tableCols.size,
      s"upsertVersionedRows: updates schema ${updates.schema.simpleString} " +
        s"must match the table exactly (${tableCols.keys.mkString(",")}) — " +
        "schema evolution is mergeVersionedPartitioned's job")
    // ONE probe job over the pinned batch (r18 perf — was three: an
    // isEmpty take, a constraint-validation aggregate, a key-bounds
    // aggregate): emptiness, every needed CHECK, and the key envelope
    // ride a single combined aggregate. An empty trigger still no-ops
    // before any constraint can fire (zero rows ⇒ zero violations, the
    // same vacuous truth the skipped validation job gave).
    val k0 = keys.head
    val checks = neededChecks(updates, man.writerChecks)
    val probeAggs = Seq(count(lit(1)).as("__n"),
      min(col(s"`$k0`")).as("__lo"), max(col(s"`$k0`")).as("__hi")) ++
      checks.map { case (name, sql) => count(when(!expr(sql), 1)).as(name) }
    val probe = updates.agg(probeAggs.head, probeAggs.tail: _*).head()
    if (probe.getLong(0) == 0L) return cur
    raiseCheckViolations(checks, i => probe.getLong(3 + i), "upsert rows")
    // UNIQUE: replace-by-key preserves key uniqueness exactly when the
    // constraint IS the key set and the incoming batch is key-unique
    // (dup source keys would all land — the caller-owned contract
    // becomes writer-enforced once a constraint is declared)
    if (man.uniqueConstraints.nonEmpty) {
      requireUniqueKeysMatch(spark, man, keys, "upsertVersionedRows")
      requireUniqueBatch(man, updates, None, "upsert rows")
    }
    val snap = ManifestIndex.dataFrame(spark, root, man, lineage = true)
    // key-range prefilter: two scalars off the updates (O(1) driver data)
    // let the stats envelopes prune files that cannot hold any incoming
    // key — without it the semi-join would plan every file of the table
    val ranged =
      if (probe.isNullAt(1)) snap
      else snap.filter(col(s"`$k0`") >= lit(probe.get(1)) &&
        col(s"`$k0`") <= lit(probe.get(2)))
    val matched = ranged
      .join(updates.select(keys.map(k => col(s"`$k`")): _*).distinct(),
        keys, "left_semi")
      .persist(org.apache.spark.storage.StorageLevel.MEMORY_AND_DISK)
    try commit(spark, root, cur, "UPSERT ROWS", txn) { next =>
      // images first, replacing the version dir (a stale partial dir from
      // a crashed claimer is wiped), sidecar into it afterwards —
      // same ordering as updateVersionedRows. The writer emits PHYSICAL
      // names so new footers agree with old ones across renames. DECLARED
      // clustering (S80) places the appended image like every other write
      // front — without this, hot upserted tables decluster until OPTIMIZE.
      val zCols = man.clusterColumns
      val placedUpdates =
        if (zCols.isEmpty) leafSized(updates, pcols)
        else clusterForWrite(updates, pcols, zCols, "upsertVersionedRows")
      val fresh = writeEntries(spark, root, next, man, pcols,
        placedUpdates)
      val carried = rowLevelPlan(spark, root, man, matched) match {
        case None => man.entries
        case Some((counts, allPos)) =>
          writeDvSidecar(spark, root, man, counts, allPos, next)
      }
      man.copy(entries = fresh ++ carried)
    } finally matched.unpersist(false)
    } finally updates.unpersist(false)
  }

  /** REPLACE the whole table's content in one commit — the SQL
    * `INSERT OVERWRITE` / `TRUNCATE` lowering: the next manifest carries
    * ONLY the fresh files (no carry-forward), so the snapshot IS `rows`, while
    * every previous version stays time-travelable/RESTOREable until
    * vacuumed. Schema is PINNED (the declared table schema must match
    * exactly — evolution stays a separate, explicit op), CHECK
    * constraints validate the replacement before any version is claimed,
    * and an EMPTY frame is a legitimate truncate. O(new content)
    * written + O(1) metadata at any table size.
    */
  def replaceVersionedRows(spark: SparkSession, root: String,
                           rows0: DataFrame,
                           txn: Option[(String, Long)] = None,
                           extraProps: Map[String, String] = Map.empty,
                           zOrderCols: Seq[String] = Nil): String =
    graft.util.DmlTimer.timed {
      commitFreshRows(spark, root, rows0, txn, "REPLACE",
        keepEntries = false, what = "replaceVersionedRows",
        evolveHint = "schema evolution is a separate, explicit op",
        extraProps = extraProps, zOrderCols = zOrderCols)
    }

  /** Pure APPEND on a MANIFEST root — `INSERT INTO` semantics: every
    * incoming row lands, no matching, no deletion vectors, no rewrite of
    * anything. One commit writes O(|rows|) bytes (partitioned into the
    * table's leaves) and copies the carried entry list — the cheapest
    * possible write at any table size, and the right one for fact/event
    * ingestion where keys are fresh by construction.
    *
    * What it deliberately does NOT do: enforce key uniqueness (append has
    * no keys — a caller feeding [[changeFeed]]/[[upsertVersionedRows]]
    * consumers owns the unique-key contract) or schema evolution (merge's
    * job; narrow producers post-widening are upcast at the door like every
    * writer). CHECK constraints validate the incoming rows before any
    * version is claimed; `txn` gives exactly-once commits over replays,
    * exactly as on [[upsertVersionedRows]]. An empty batch is a no-op.
    *
    * Optional `zOrderCols` (WRITE-TIME clustering, S72): the fresh batch
    * range-partitions and sorts on the interleaved z-value BEFORE landing,
    * so hot tables cluster on ingest instead of waiting for OPTIMIZE —
    * per-file min/max stats on the z dimensions are tight from the first
    * commit and range predicates prune immediately. Cost: one stats pass
    * over the (already persisted) batch + a range shuffle, paid only when
    * requested. OPTIMIZE ZORDER remains the way to re-cluster data that
    * arrived unclustered.
    *
    * @return the new live version path (or the current one on no-op)
    */
  def appendVersionedRows(spark: SparkSession, root: String, rows0: DataFrame,
                          txn: Option[(String, Long)] = None,
                          extraProps: Map[String, String] = Map.empty,
                          zOrderCols: Seq[String] = Nil): String =
    graft.util.DmlTimer.timed {
      commitFreshRows(spark, root, rows0, txn, "APPEND",
        keepEntries = true, what = "appendVersionedRows",
        evolveHint = "schema evolution is mergeVersionedPartitioned's job",
        extraProps = extraProps, zOrderCols = zOrderCols)
    }

  /** ONE writer skeleton for the two fresh-files commits — APPEND (fresh
    * entries join the carried ones; an empty batch is a no-op) and
    * REPLACE (the manifest names ONLY the fresh files; an empty batch is
    * a legitimate truncate). Validation, txn replay, constraint gating
    * and the commit are shared so a fix lands exactly once (review fix —
    * the two were 25-line near-copies).
    */
  private def commitFreshRows(spark: SparkSession, root: String,
                              rows0: DataFrame, txn: Option[(String, Long)],
                              op: String, keepEntries: Boolean,
                              what: String, evolveHint: String,
                              extraProps: Map[String, String] = Map.empty,
                              zOrderCols: Seq[String] = Nil): String = {
    val (cur, man) = currentManifest(spark, root)
    if (replayed(man, txn)) return cur
    val pcols = man.partitionSchema.fieldNames.toSeq
    val rows = upcastToActive(man, rows0)
      .persist(org.apache.spark.storage.StorageLevel.MEMORY_AND_DISK)
    try {
      val tableCols = (ManifestIndex.activeSchema(man.dataSchema) ++
        man.partitionSchema).map(f => f.name -> f.dataType).toMap
      require(rows.schema.forall(f => tableCols.get(f.name).contains(f.dataType)) &&
          rows.schema.length == tableCols.size,
        s"$what: rows schema ${rows.schema.simpleString} " +
          s"must match the table exactly (${tableCols.keys.mkString(",")}) — " +
          evolveHint)
      // emptiness probe and CHECK validation share ONE aggregate job over
      // the pinned batch (r18 perf — was an isEmpty take plus a separate
      // validation job); zero rows ⇒ zero violations, the same vacuous
      // truth the skipped validation job gave
      val checks = neededChecks(rows, man.writerChecks)
      val probeAggs = count(lit(1)).as("__n") +:
        checks.map { case (name, sql) => count(when(!expr(sql), 1)).as(name) }
      val probe = rows.agg(probeAggs.head, probeAggs.tail: _*).head()
      val empty = probe.getLong(0) == 0L
      if (empty && keepEntries) return cur // append of nothing: no-op
      // GENERATED identity: values are assigned by completeInsertColumns
      // (which stamps the advanced high-water into extraProps) — a batch
      // arriving with the column but WITHOUT the watermark bypassed
      // generation and could collide with future generated ids
      man.identity.foreach { case (c, _) =>
        require(empty ||
            extraProps.keys.exists(_.startsWith(ManifestIndex.IdentityPrefix)),
          s"$what: column '$c' is GENERATED (identity) — route inserts " +
            "through the INSERT surface / completeInsertColumns so ids are " +
            "assigned against the committed high-water mark")
      }
      if (!empty)
        raiseCheckViolations(checks, i => probe.getLong(1 + i), s"$op rows")
      // UNIQUE gate: intra-batch always; vs the current snapshot only on
      // APPEND (REPLACE keeps nothing to collide with)
      if (!empty && man.uniqueConstraints.nonEmpty)
        requireUniqueBatch(man, rows,
          if (keepEntries) Some(ManifestIndex.dataFrame(spark, root, man))
          else None, s"$op rows")
      commit(spark, root, cur, op, txn) { next =>
        val fresh = if (empty) Seq.empty else {
          // write-time clustering happens on the LOGICAL frame (zOrderCols
          // are logical names; toPhysical is a narrow projection, so the
          // range partitioning and in-partition order survive it). An
          // explicit argument wins; otherwise the table's DECLARED
          // clustering (ManifestIndex.ClusterKey, S80) applies.
          val zCols = if (zOrderCols.nonEmpty) zOrderCols else man.clusterColumns
          val placed =
            if (zCols.isEmpty) leafSized(rows, pcols)
            else clusterForWrite(rows, pcols, zCols, what)
          writeEntries(spark, root, next, man, pcols, placed)
        }
        man.copy(properties = man.properties ++ extraProps,
          entries = fresh ++ (if (keepEntries) man.entries else Seq.empty))
      }
    } finally rows.unpersist(false)
  }

  /** Conditional MERGE INTO (merge-on-read) on a MANIFEST root — the full
    * three-clause MERGE a CDC/apply pipeline needs, on top of the same
    * deletion-vector machinery as [[upsertVersionedRows]] (which is the
    * unconditional replace-by-key special case):
    *
    *  - `whenMatchedDelete = Some(cond)`: a target row whose key matches a
    *    source row AND satisfies `cond` is DV'd out (no file rewritten);
    *  - `whenMatchedUpdate = Some((cond, set))`: a matched row NOT taken
    *    by the delete clause, satisfying `cond`, is DV'd out and its
    *    updated image (columns in `set` reassigned, everything else kept)
    *    appended as new files in its leaf;
    *  - `whenNotMatchedInsert = Some(cond)`: a source row matching no
    *    target row, satisfying `cond`, is appended.
    *  - `whenNotMatchedBySourceDelete = Some(cond)`: a TARGET row whose
    *    key matches NO source row, satisfying `cond`, is DV'd out — the
    *    full-sync idiom (drop target rows absent from the source);
    *  - `whenNotMatchedBySourceUpdate = Some((cond, set))`: a by-source
    *    row NOT taken by the by-source delete, satisfying `cond`, is
    *    rewritten with `set` applied (flag-stale-rows full sync). These
    *    two see TARGET columns only, plain names — there is no source row
    *    on that side. NOTE an EMPTY source makes EVERY target row "not
    *    matched by source" (the standard semantics — a full sync against
    *    an empty upstream clears/flags the whole table), so these clauses
    *    disable the empty-source fast path, and their anti-join scans the
    *    full snapshot (no key-envelope prefilter can apply — a row
    *    OUTSIDE the source's key range is by definition not matched).
    *
    * Clause `cond`s and `set` values are evaluated per (target, source)
    * pair: target columns by their plain names, the matching source row's
    * columns as `src_<name>` (so `col("v") < col("src_v")` means "only
    * when the incoming row is newer" and `"v" -> col("src_v")` assigns
    * it). `whenNotMatchedInsert`'s cond sees only the source row, plain
    * names. Clauses fire delete-first (Delta's clause-order semantics,
    * fixed), each cond NULL-as-false; a matched pair satisfying no clause
    * leaves the target row untouched. All expressions must be
    * deterministic (each is evaluated against a pinned snapshot, but a
    * non-deterministic `set` would still commit values the cond never
    * saw).
    *
    * Contract: `keys` non-null; a target row matching MORE THAN ONE
    * source row is ambiguous and throws (the standard MERGE cardinality
    * error — which source row's clauses would apply?). Source schema must
    * match the active table exactly (narrow producers upcast at the
    * door). Partition columns ARE assignable in `set` — an assignment
    * MOVES the row across leaves (old image DV'd wherever it lives, new
    * image lands in its new leaf), so upstream partition moves apply
    * directly; `set` values are cast to the target column's type (ANSI —
    * loud on invalid values). CHECK constraints validate every appended
    * image before any
    * version is claimed. Cost: O(matched + inserted rows) written +
    * O(#files) metadata, with the matching scan prefiltered by the
    * source's first-key [min, max] envelope — the sparse-MERGE shape a
    * 100 TB table needs. A call where no clause fires is a NO-OP.
    *
    * The source may carry EXTRA non-table columns (a CDC op code, a
    * sequence number): clause conditions and `set` values see them as
    * `src_<name>` like every other source column, and they never land in
    * the table (images select exactly the table's columns). Every TABLE
    * column must still be present with its exact type.
    *
    * `txn` makes the commit idempotent per application, exactly as on
    * [[upsertVersionedRows]]: a replayed (appId, batchId) at or below the
    * stored watermark no-ops without reading the source.
    *
    * @return the new live version path (or the current one on no-op)
    */
  def mergeIntoVersionedRows(spark: SparkSession, root: String,
                             source0: DataFrame, keys: Seq[String],
                             whenMatchedDelete: Option[Column] = None,
                             whenMatchedUpdate: Option[(Column, Map[String, Column])] = None,
                             whenNotMatchedInsert: Option[Column] = None,
                             txn: Option[(String, Long)] = None,
                             whenNotMatchedBySourceDelete: Option[Column] = None,
                             whenNotMatchedBySourceUpdate: Option[(Column, Map[String, Column])] = None): String = graft.util.DmlTimer.timed {
    require(keys.nonEmpty, "mergeIntoVersionedRows: empty key set")
    val hasBySource = whenNotMatchedBySourceDelete.isDefined ||
      whenNotMatchedBySourceUpdate.isDefined
    require(whenMatchedDelete.isDefined || whenMatchedUpdate.isDefined ||
      whenNotMatchedInsert.isDefined || hasBySource,
      "mergeIntoVersionedRows: no clauses")
    val (cur, man) = currentManifest(spark, root)
    if (replayed(man, txn)) return cur
    val pcols = man.partitionSchema.fieldNames.toSeq
    (whenMatchedUpdate.toSeq ++ whenNotMatchedBySourceUpdate.toSeq).foreach { case (_, set) =>
      require(set.nonEmpty, "mergeIntoVersionedRows: empty update set")
      // partition columns ARE assignable here (unlike updateVersionedRows):
      // matching is by key, and the mechanism is delete+insert anyway —
      // the old image is DV'd wherever it lives and the new image lands in
      // its (possibly different) leaf via the partitionBy write, the same
      // move-correctness upsertVersionedRows documents. A CDC apply needs
      // this or upstream partition moves silently diverge (review fix).
      set.keys.foreach { k =>
        require(
          (ManifestIndex.activeSchema(man.dataSchema).fieldNames ++ pcols)
            .contains(k),
          s"mergeIntoVersionedRows: unknown (or dropped) column '$k' " +
            "(schema evolution is mergeVersionedPartitioned's job)")
      }
    }
    // UNIQUE: key-based merge preserves exactly the key set's uniqueness
    // (inserts are snapshot-disjoint by the anti-join and deduplicated by
    // the image check below; updates keep their keys once assignments to
    // constraint columns are refused)
    if (man.uniqueConstraints.nonEmpty) {
      requireUniqueKeysMatch(spark, man, keys, "mergeIntoVersionedRows")
      (whenMatchedUpdate.toSeq ++ whenNotMatchedBySourceUpdate.toSeq)
        .foreach { case (_, set) =>
          requireNoUniqueAssignment(spark, man, set.keys,
            "mergeIntoVersionedRows")
        }
    }
    val source = upcastToActive(man, source0)
      .persist(org.apache.spark.storage.StorageLevel.MEMORY_AND_DISK)
    try {
      val tableFields = ManifestIndex.activeSchema(man.dataSchema) ++
        man.partitionSchema
      val tableCols = tableFields.map(f => f.name -> f.dataType).toMap
      // every TABLE column present with its exact type; EXTRA source
      // columns (CDC op codes, sequence numbers) ride along as clause
      // inputs and never land in the table
      val srcTypes = source.schema.map(f => f.name -> f.dataType).toMap
      require(tableCols.forall { case (n, t) => srcTypes.get(n).contains(t) },
        s"mergeIntoVersionedRows: source schema ${source.schema.simpleString} " +
          s"must carry every table column (${tableCols.keys.mkString(",")}) " +
          "with its exact type")
      // an EMPTY source is a no-op ONLY without by-source clauses: with
      // them, every target row is "not matched by source" and the clauses
      // legitimately apply to the whole table (full sync to empty)
      // key-range prefilter, as in upsertVersionedRows: two scalars off the
      // source let stats envelopes prune files holding no candidate key.
      // The emptiness probe RIDES the same aggregate (one pass over the
      // persisted source instead of a separate isEmpty job per merge —
      // r18 perf).
      val k0 = keys.head
      val bounds = source.agg(count(lit(1)),
        min(col(s"`$k0`")), max(col(s"`$k0`"))).head()
      if (bounds.getLong(0) == 0L && !hasBySource) return cur
      val snap = ManifestIndex.dataFrame(spark, root, man, lineage = true)
      val ranged =
        if (bounds.isNullAt(1)) snap
        else snap.filter(col(s"`$k0`") >= lit(bounds.get(1)) &&
          col(s"`$k0`") <= lit(bounds.get(2)))
      val src = source.select(source.columns.map(c =>
        col(s"`$c`").as(s"src_$c")): _*)
      val onKeys = keys.map(k => col(s"`$k`") === col(s"`src_$k`")).reduce(_ && _)
      // pinned: every clause cond must see ONE evaluation of the match
      val matched = ranged.join(src, onKeys, "inner")
        .persist(org.apache.spark.storage.StorageLevel.MEMORY_AND_DISK)
      // NOT MATCHED BY SOURCE rows: the anti-join complement over the FULL
      // snapshot (no key-envelope prefilter can apply — a target row
      // OUTSIDE the source's key range is by definition unmatched). The
      // source side is keys-only, so the anti-join broadcasts for small
      // syncs; pinned because both by-source clauses and the image write
      // share one evaluation.
      val bySrc =
        if (hasBySource)
          Some(snap.join(source.select(keys.map(k => col(s"`$k`")): _*),
              keys, "left_anti")
            .persist(org.apache.spark.storage.StorageLevel.MEMORY_AND_DISK))
        else None
      try {
        val multi = matched
          .groupBy(col(ManifestIndex.FileCol), col(ManifestIndex.PosCol))
          .count().filter(col("count") > 1L)
        require(multi.isEmpty, "mergeIntoVersionedRows: a target row matches " +
          "more than one source row — which row's clauses would apply? " +
          "Deduplicate the source on the merge keys first")
        val t = lit(true)
        val delCond = whenMatchedDelete.map(c => coalesce(c, lit(false)))
        val delRows = delCond.map(matched.filter).getOrElse(matched.filter(!t))
        val updRows = whenMatchedUpdate.map { case (c, _) =>
          matched.filter(delCond.map(d => !d).getOrElse(t) &&
            coalesce(c, lit(false)))
        }.getOrElse(matched.filter(!t))
        // by-source clauses fire delete-first too (same fixed order as the
        // matched side); their conds see TARGET columns only, plain names
        val bsDelCond = whenNotMatchedBySourceDelete.map(c => coalesce(c, lit(false)))
        val bsDelRows = bySrc.map(b =>
          bsDelCond.map(b.filter).getOrElse(b.filter(!t)))
        val bsUpdRows = bySrc.flatMap(b =>
          whenNotMatchedBySourceUpdate.map { case (c, _) =>
            b.filter(bsDelCond.map(d => !d).getOrElse(t) &&
              coalesce(c, lit(false)))
          })
        val dvRows = (Seq(delRows, updRows) ++ bsDelRows.toSeq ++ bsUpdRows.toSeq)
          .map(_.select(col(ManifestIndex.FileCol), col(ManifestIndex.PosCol)))
          .reduce(_ unionByName _)
        val updImages = whenMatchedUpdate.map { case (_, set) =>
          // assignments CAST to the target column's type — a mismatched
          // set expression must never commit files whose physical type
          // diverges from the table schema (ANSI casts throw loudly on
          // invalid runtime values, the Delta assignment semantics);
          // without this an update-only merge with e.g. an int literal
          // into a bigint column bricked subsequent reads (review fix)
          updRows.select(tableFields.map(f =>
            set.get(f.name).map(_.cast(f.dataType))
              .getOrElse(col(s"`${f.name}`")).as(f.name)): _*)
        }
        // rewritten by-source images: keys come from the snapshot (unique
        // per the table contract) and are source-disjoint, so they cannot
        // collide with matched-update or insert images below — unless the
        // assignments rewrite the keys, which the duplicate-key check over
        // the unioned images catches
        val bsUpdImages = whenNotMatchedBySourceUpdate.map { case (_, set) =>
          bsUpdRows.get.select(tableFields.map(f =>
            set.get(f.name).map(_.cast(f.dataType))
              .getOrElse(col(s"`${f.name}`")).as(f.name)): _*)
        }
        val insImages = whenNotMatchedInsert.map { c =>
          source.join(ranged.select(keys.map(k => col(s"`$k`")): _*),
              keys, "left_anti")
            .filter(coalesce(c, lit(false)))
            .select(tableFields.map(f => col(s"`${f.name}`")): _*)
        }
        // pinned: the emptiness probe, every CHECK constraint and the
        // write must share one evaluation — unpersisted, each would re-run
        // the insert clause's snapshot anti-join (review fix)
        val images = (updImages.toSeq ++ bsUpdImages.toSeq ++ insImages.toSeq)
          .reduceOption(_ unionByName _)
          .map(_.persist(org.apache.spark.storage.StorageLevel.MEMORY_AND_DISK))
        try {
          // the matched-side ambiguity check above cannot see UNMATCHED
          // source duplicates: two source rows with the same new key both
          // pass the insert clause's anti-join and would both append,
          // silently breaking the unique-key-per-snapshot invariant that
          // changeFeed and upsertVersionedRows document and rely on
          // (ADVICE r10). Checked over the persisted images (one cached
          // pass, no anti-join re-run); update images cannot collide among
          // themselves unless assignments rewrite the keys — which this
          // catches too — and insert keys are snapshot-disjoint by the
          // anti-join, so duplicate keys here always mean a real violation.
          // The emptiness probe and the duplicate-key probe ride ONE
          // aggregate over the persisted images (one job, not two — r18
          // perf): total rows = Σ per-key counts, a duplicate = any
          // per-key count > 1.
          val haveImages = images.exists { df =>
            val probe = df.groupBy(keys.map(k => col(s"`$k`")): _*)
              .count().agg(sum(col("count")), max(col("count"))).head()
            val total = if (probe.isNullAt(0)) 0L else probe.getLong(0)
            require(total == 0L || probe.getLong(1) <= 1L,
              "mergeIntoVersionedRows: duplicate keys " +
              "among the rows this merge appends (duplicate source keys " +
              "feeding the insert clause, or update assignments colliding " +
              "on the merge keys) — deduplicate the source on the merge " +
              "keys first")
            total > 0L
          }
          rowLevelPlan(spark, root, man, dvRows) match {
            case None if !haveImages => cur // no clause fired
            case plan =>
              // validate appended images BEFORE any version is claimed
              if (haveImages)
                requireConstraints(images.get, man.writerChecks, "merged rows")
              commit(spark, root, cur, "MERGE INTO", txn) { next =>
                val fresh = if (!haveImages) Seq.empty else {
                  // DECLARED clustering (S80) on the merge's appended image
                  // — update + insert images land z-placed like appends do
                  val zCols = man.clusterColumns
                  val placedImages =
                    if (zCols.isEmpty) leafSized(images.get, pcols)
                    else clusterForWrite(images.get, pcols, zCols,
                      "mergeIntoVersionedRows")
                  writeEntries(spark, root, next, man, pcols,
                    placedImages)
                }
                val carried = plan match {
                  case Some((counts, allPos)) =>
                    writeDvSidecar(spark, root, man, counts, allPos, next)
                  case None => man.entries
                }
                man.copy(entries = fresh ++ carried)
              }
          }
        } finally images.foreach(_.unpersist(false))
      } finally {
        matched.unpersist(false)
        bySrc.foreach(_.unpersist(false))
      }
    } finally source.unpersist(false)
  }

  /** Shared head of the row-level writers: key the matched rows'
    * coordinates by [[ManifestIndex.dvKey]] and fold in the positions the
    * touched files' existing DVs already carry, so the commit's sidecar is
    * each touched file's COMPLETE deletion vector. Returns the per-file new
    * counts (O(#touched files) driver metadata — the same class as
    * affectedLeaves) and the full position set; `None` when nothing
    * matched, BEFORE any version is claimed.
    */
  private def rowLevelPlan(spark: SparkSession, root: String,
                           man: ManifestIndex.TableManifest, matched: DataFrame)
      : Option[(Map[String, Long], DataFrame)] = {
    // keyed by the URL-ENCODED form _metadata.file_path reports — a
    // literal Path string misses every file under a partition value
    // needing encoding (space, %, …) and the write silently no-ops there
    val absToKey = man.entries.map(e =>
      (ManifestIndex.scanPathOf(root, e.path),
        ManifestIndex.dvKey(e.path)))
    require(absToKey.map(_._2).distinct.size == absToKey.size,
      "dvKey collision: two entries share a version-relative suffix " +
        "(multi-source clone) — compact to re-home before row-level writes")
    val mapDf = spark.createDataFrame(absToKey).toDF("__abs", "__key")
    val newPos = matched
      .select(col(ManifestIndex.FileCol), col(ManifestIndex.PosCol))
      .join(broadcast(mapDf), col(ManifestIndex.FileCol) === col("__abs"))
      .select(col("__key").as("path"), col(ManifestIndex.PosCol).as("pos"))
    // one row per TOUCHED file — O(metadata) driver data, streamed rather
    // than collect()ed
    val newCounts: Map[String, Long] = {
      val it = newPos.groupBy("path").count().toLocalIterator()
      val b = Map.newBuilder[String, Long]
      while (it.hasNext) { val r = it.next(); b += r.getString(0) -> r.getLong(1) }
      b.result()
    }
    if (newCounts.isEmpty) return None
    val entriesByKey = man.entries.map(e => ManifestIndex.dvKey(e.path) -> e).toMap
    val oldDirs = newCounts.keySet.toSeq.flatMap(k =>
      entriesByKey(k).dv.map(d =>
        ManifestIndex.absEntryPath(root, d.path).toString)).distinct
    val touchedDf = spark.createDataFrame(newCounts.keySet.toSeq.map(Tuple1(_)))
      .toDF("__touched")
    val allPos =
      if (oldDirs.isEmpty) newPos
      else newPos.unionByName(
        ManifestIndex.readDv(spark, oldDirs)
          .join(broadcast(touchedDf), col("path") === col("__touched"),
            "left_semi"))
    Some((newCounts, allPos))
  }

  /** Shared tail of the row-level writers: write the commit's DV sidecar
    * (`vNNNNN/_dv/`) and return the prior entries with touched files
    * re-pointed at it — an entry whose every row is now deleted (row count
    * known from stats) drops out entirely.
    */
  private def writeDvSidecar(spark: SparkSession, root: String,
                             man: ManifestIndex.TableManifest,
                             counts: Map[String, Long], allPos: DataFrame,
                             next: String): Seq[ManifestIndex.Entry] = {
    val entriesByKey = man.entries.map(e => ManifestIndex.dvKey(e.path) -> e).toMap
    val total = counts.values.sum +
      counts.keysIterator.flatMap(k => entriesByKey(k).dv.map(_.rows)).sum
    allPos.repartition(math.max(1L, total / 4000000L + 1L).toInt)
      .write.mode(SaveMode.Overwrite).parquet(s"$root/$next/_dv")
    man.entries.flatMap { e =>
      val k = ManifestIndex.dvKey(e.path)
      counts.get(k) match {
        case None => Some(e)
        case Some(n) =>
          val dvRows = n + e.dv.map(_.rows).getOrElse(0L)
          if (e.stats.exists(_.rows == dvRows)) None // fully deleted file
          else Some(e.copy(dv = Some(ManifestIndex.DvRef(s"$next/_dv", dvRows))))
      }
    }
  }

  /** RENAME a data column of a manifest root — metadata-only (Delta's
    * column-mapping shape): the new manifest carries the new LOGICAL name
    * with the column's PHYSICAL name (the one every parquet footer, stats
    * envelope and bloom uses, fixed at the column's birth) preserved in
    * field metadata. No file is rewritten, no entry changes; old versions
    * keep their old names (time travel reads the schema of its day); a
    * change feed across the rename is EMPTY when the data didn't change
    * (the from-side is aligned by physical identity). Subsequent writers
    * keep writing physical names, so files from before and after any
    * number of renames stay mutually readable.
    *
    * Partition columns cannot be renamed (their name is baked into every
    * leaf path), and the new name must not collide with any existing
    * column.
    *
    * @return the new live version path
    */
  def renameColumn(spark: SparkSession, root: String,
                   oldName: String, newName: String): String =
    alterManifest(spark, root, "RENAME COLUMN") { man =>
      require(!man.partitionSchema.fieldNames.contains(oldName),
        s"renameColumn: '$oldName' is a partition column — its name is baked " +
          "into every leaf path; repartitioning is a rewrite, not a rename")
      require(man.entries.forall(e =>
          !ManifestIndex.leafSpec(e.leaf).contains(oldName)),
        s"renameColumn: '$oldName' is dir-encoded in historical leaves " +
          "(written under an earlier partition spec) — compact to re-spec " +
          "those leaves first, or the dir values would detach from the column")
      require(ManifestIndex.activeSchema(man.dataSchema).fieldNames.contains(oldName),
        s"renameColumn: no (active) column '$oldName' in " +
          ManifestIndex.activeSchema(man.dataSchema).fieldNames.mkString(","))
      require(!man.dataSchema.fieldNames.contains(newName) &&
        !man.partitionSchema.fieldNames.contains(newName),
        s"renameColumn: '$newName' already exists")
      requireNoConstraintReference(spark, man, oldName, "renameColumn")
      // a declared CLUSTER BY column is recorded by LOGICAL name —
      // renaming underneath it would brick every subsequent write (the
      // placement selects a column that no longer exists); refuse loudly,
      // the same contract as constraint references
      require(!man.clusterColumns.contains(oldName),
        s"renameColumn: '$oldName' is a declared CLUSTER BY column — " +
          "redeclare the clustering (or CLUSTER BY NONE) first")
      val renamed = StructType(man.dataSchema.map { f =>
        if (f.name != oldName) f
        else org.apache.spark.sql.types.StructField(newName, f.dataType, f.nullable,
          new org.apache.spark.sql.types.MetadataBuilder()
            .withMetadata(f.metadata)
            .putString(ManifestIndex.PhysicalKey, ManifestIndex.physicalName(f))
            .build())
      })
      man.copy(dataSchema = renamed)
    }

  /** ADD a (nullable) data column to a manifest root — metadata-only: the
    * new manifest carries one more field; no file is rewritten. Files
    * written BEFORE the add simply lack the column's physical name, and
    * Spark's parquet reader null-fills a requested-but-absent column — so
    * every historical row reads as NULL for it, the standard lakehouse
    * add-column semantics. Old versions keep the old schema (time travel
    * reads the schema of its day).
    *
    * The new column gets a FRESH physical identity: if its name was ever
    * claimed (a dropped column's tombstone keeps its logical name claimed
    * and refuses outright; a rename leaves its ORIGINAL physical name
    * claimed), a suffixed physical name is minted and carried in field
    * metadata — otherwise old footers would resurrect unrelated values
    * into the new column. Always nullable: rows that predate the column
    * have no value for it, and writers upcast at the door.
    *
    * @return the new live version path
    */
  def addColumn(spark: SparkSession, root: String,
                name: String, dataType: org.apache.spark.sql.types.DataType): String =
    alterManifest(spark, root, "ADD COLUMN") { man =>
      // case-INSENSITIVE guards: Spark resolves case-insensitively by
      // default, so committing both 'v' and 'V' would brick every read
      // with AMBIGUOUS_REFERENCE (review fix)
      require(!(man.dataSchema.fieldNames ++ man.partitionSchema.fieldNames)
          .exists(_.equalsIgnoreCase(name)),
        s"addColumn: '$name' already exists (a dropped column's tombstone " +
          "keeps its name claimed — re-adding it would ambiguate history)")
      val claimed = (man.dataSchema.map(ManifestIndex.physicalName) ++
        man.partitionSchema.fieldNames).map(_.toLowerCase).toSet
      val field =
        if (!claimed(name.toLowerCase))
          org.apache.spark.sql.types.StructField(name, dataType, nullable = true)
        else {
          val phys = Iterator.from(1).map(i => s"${name}_$i")
            .find(p => !claimed(p.toLowerCase)).get
          org.apache.spark.sql.types.StructField(name, dataType, nullable = true,
            new org.apache.spark.sql.types.MetadataBuilder()
              .putString(ManifestIndex.PhysicalKey, phys).build())
        }
      man.copy(dataSchema = StructType(man.dataSchema :+ field))
    }

  /** WIDEN a data column's type on a manifest root — metadata-only, like
    * [[renameColumn]]: no data file is rewritten, because Spark 4's
    * parquet readers natively decode a narrow physical type into the
    * wide logical one (int32 → long/double, float → double, decimal
    * precision growth; see [[ManifestIndex.isWidening]] for the exact
    * lossless set). On a 100 TB table, `ALTER COLUMN i TYPE BIGINT` is one
    * manifest line plus an O(#files) in-memory stats pass — vs the full
    * rewrite a rigid schema forces the day a 32-bit id overflows.
    *
    * What the commit does beyond the schema line:
    *  - every carried file's min/max envelope for the column is
    *    RE-ENCODED under the wide type ([[ManifestIndex.reencodeBound]]) —
    *    decoded-as-written, widened, re-encoded — so data skipping keeps
    *    its never-wrong guarantee (a float bound naively re-read as
    *    double sits BELOW the widened data);
    *  - the column's per-file BLOOM filters are dropped: bloom bits hash
    *    the narrow runtime values, and a wide literal hashes differently,
    *    so stale bits could "prove" a present value absent. Conservative
    *    and self-healing — files rewritten later (merge/compact) collect
    *    fresh blooms under the wide type.
    *
    * Old versions keep the narrow schema (time travel reads the schema of
    * its day, and [[restoreVersion]] of a pre-widen version restores it);
    * a change feed across the widen is empty when the data didn't change
    * (the from-side is cast up during alignment). Merges after the widen
    * may keep sending the NARROW type — incoming columns are upcast at
    * the door ([[mergeVersionedPartitioned]]), so existing producers
    * don't break. CHECK constraints referencing the column stay valid
    * (widening preserves values, hence predicate truth), unlike rename /
    * drop which are pinned by them. Partition columns cannot widen (their
    * encoded values are baked into every leaf path).
    *
    * @return the new live version path
    */
  def widenColumn(spark: SparkSession, root: String,
                  name: String, to: org.apache.spark.sql.types.DataType): String =
    alterManifest(spark, root, "WIDEN COLUMN") { man =>
      require(!man.partitionSchema.fieldNames.contains(name),
        s"widenColumn: '$name' is a partition column — its encoded values " +
          "are baked into every leaf path; repartitioning is a rewrite")
      val active = ManifestIndex.activeSchema(man.dataSchema)
      require(active.fieldNames.contains(name),
        s"widenColumn: no (active) column '$name' in " +
          active.fieldNames.mkString(","))
      val f = active(active.fieldIndex(name))
      require(ManifestIndex.isWidening(f.dataType, to),
        s"widenColumn: ${f.dataType.simpleString} -> ${to.simpleString} is " +
          "not a lossless parquet-reader widening (see ManifestIndex.isWidening)")
      val zone = spark.sessionState.conf.sessionLocalTimeZone
      val phys = ManifestIndex.physicalName(f)
      val widened = StructType(man.dataSchema.map { g =>
        if (g.name == name && !ManifestIndex.isDropped(g)) g.copy(dataType = to)
        else g
      })
      val entries = man.entries.map { e =>
        e.stats.flatMap(st => st.cols.get(phys).map { c =>
          e.copy(stats = Some(st.copy(cols = st.cols.updated(phys, c.copy(
            min = c.min.flatMap(
              ManifestIndex.reencodeBound(_, f.dataType, to, zone)),
            max = c.max.flatMap(
              ManifestIndex.reencodeBound(_, f.dataType, to, zone)),
            // bloom AND ndv hash the STORED type: xxhash64(int 5) ≠
            // xxhash64(long 5), so a sketch built under the old type must
            // not union with new-type sketches (the same reason the bloom
            // drops) — it would double-count every value present on both
            // sides of the widen. Fresh files regrow both at the next
            // compaction/commit.
            bloom = None,
            ndv = None)))))
        }).getOrElse(e)
      }
      man.copy(dataSchema = widened, entries = entries)
    }

  /** PARTITION-SPEC EVOLUTION on a manifest root — metadata-only, the
    * Iceberg move: change what future writes partition by WITHOUT touching
    * a single existing file. One manifest commit swaps `partitionSchema`
    * to `newPcols` (columns leaving the spec become ordinary data columns;
    * columns entering it stop being written to payloads); every existing
    * entry stays exactly as it is, because each leaf path already
    * dir-encodes ITS OWN spec (`a=1/b=2`) and the read path scans each
    * spec group with its own partition schema, unioned behind one
    * canonical projection. On a 100 TB table whose daily partitioning
    * stopped matching its query pattern, this is one metadata write — vs
    * the full rewrite a rigid layout forces.
    *
    * What still works on the mixed-spec table: every read (filters prune
    * the new spec's dirs AND the old files' stats envelopes), time travel,
    * change feeds, row-level DML (delete/update/upsert/merge-into — they
    * match by key and DV images wherever they live), vacuum, clone,
    * history. What is REFUSED until compaction converges the layout: the
    * leaf-pruned copy-on-write merge/delete (their partition pruning
    * cannot reason across two specs) and rename/drop of a column that old
    * leaves dir-encode. [[compactVersionedPartitioned]] re-specs every
    * old-spec leaf as part of its next run, after which the table is
    * uniform again.
    *
    * Contract: `newPcols` must be live, atomic-typed, physical-identity
    * columns (never renamed — dir names cannot carry a mapping), disjoint
    * from declared bloom columns, and different from the current spec.
    *
    * @return the new live version path
    */
  def repartitionTable(spark: SparkSession, root: String,
                       newPcols: Seq[String]): String =
    alterManifest(spark, root, "REPARTITION") { man =>
      val active = ManifestIndex.activeSchema(man.dataSchema)
      val fieldBy = (active ++ man.partitionSchema).map(f => f.name -> f).toMap
      require(newPcols.nonEmpty && newPcols.distinct == newPcols,
        s"repartitionTable: partition columns must be non-empty and distinct, " +
          s"got ${newPcols.mkString(",")}")
      require(newPcols != man.partitionSchema.fieldNames.toSeq,
        s"repartitionTable: table is already partitioned by ${newPcols.mkString(",")}")
      newPcols.foreach { n =>
        val f = fieldBy.getOrElse(n, throw new IllegalArgumentException(
          s"repartitionTable: unknown (or dropped) column '$n'"))
        require(ManifestIndex.physicalName(f) == f.name,
          s"repartitionTable: column '$n' has been renamed (physical " +
            s"'${ManifestIndex.physicalName(f)}') — a dir name cannot carry " +
            "the mapping; partition columns must be physical-identity")
        require(!f.dataType.isInstanceOf[org.apache.spark.sql.types.ArrayType] &&
            !f.dataType.isInstanceOf[org.apache.spark.sql.types.MapType] &&
            !f.dataType.isInstanceOf[org.apache.spark.sql.types.StructType],
          s"repartitionTable: column '$n' has non-atomic type ${f.dataType} — " +
            "only atomic types can be dir-encoded")
      }
      val blooms = man.bloomColumns
      require(blooms.forall(b => !newPcols.contains(b)),
        s"repartitionTable: ${blooms.mkString(",")} are declared bloom " +
          "columns — a dir-encoded column gets no per-file blooms; unset first")
      val clustered = man.clusterColumns
      require(clustered.forall(c => !newPcols.contains(c)),
        s"repartitionTable: ${clustered.mkString(",")} are declared CLUSTER " +
          "BY columns — the leaves would already split on them and every " +
          "subsequent write would refuse; CLUSTER BY NONE (or redeclare) first")
      val plain = newPcols.map(n =>
        org.apache.spark.sql.types.StructField(n, fieldBy(n).dataType,
          fieldBy(n).nullable))
      val newData = StructType(
        (active.filterNot(f => newPcols.contains(f.name)) ++
          man.partitionSchema.filterNot(f => newPcols.contains(f.name))) ++
          man.dataSchema.filter(ManifestIndex.isDropped))
      man.copy(dataSchema = newData, partitionSchema = StructType(plain))
    }

  /** DROP a data column of a manifest root — metadata-only, like
    * [[renameColumn]]: the field becomes a TOMBSTONE in the manifest
    * schema (no file rewritten, no bytes read for it ever again), and its
    * physical name stays claimed forever, so schema evolution that tries
    * to re-add the name is REJECTED loudly instead of silently resurrecting
    * the old footers' values. Old versions still show the column (time
    * travel reads the schema of its day); a change feed across the drop is
    * empty when the data didn't change. To truly reclaim the bytes,
    * rewrite (compact) — the tombstone only stops the column from being
    * read.
    *
    * @return the new live version path
    */
  def dropColumn(spark: SparkSession, root: String, name: String): String =
    alterManifest(spark, root, "DROP COLUMN") { man =>
      require(!man.partitionSchema.fieldNames.contains(name),
        s"dropColumn: '$name' is a partition column — repartitioning is a " +
          "rewrite, not a drop")
      require(man.entries.forall(e =>
          !ManifestIndex.leafSpec(e.leaf).contains(name)),
        s"dropColumn: '$name' is dir-encoded in historical leaves (written " +
          "under an earlier partition spec) — compact to re-spec those " +
          "leaves first; a tombstone cannot hide dir values the reader " +
          "still needs to parse")
      val active = ManifestIndex.activeSchema(man.dataSchema)
      require(active.fieldNames.contains(name),
        s"dropColumn: no (active) column '$name' in ${active.fieldNames.mkString(",")}")
      require(active.length > 1,
        "dropColumn: refusing to drop the last data column")
      requireNoConstraintReference(spark, man, name, "dropColumn")
      require(!man.clusterColumns.contains(name),
        s"dropColumn: '$name' is a declared CLUSTER BY column — " +
          "redeclare the clustering (or CLUSTER BY NONE) first")
      val dropped = StructType(man.dataSchema.map { f =>
        if (f.name != name) f
        else org.apache.spark.sql.types.StructField(f.name, f.dataType, f.nullable,
          new org.apache.spark.sql.types.MetadataBuilder()
            .withMetadata(f.metadata)
            .putBoolean(ManifestIndex.DroppedKey, true)
            .build())
      })
      man.copy(dataSchema = dropped)
    }

  /** Add a CHECK constraint (writer-enforced data quality at the storage
    * layer, Delta-shape) to a manifest root: `sql` is a boolean SQL
    * predicate over the table's columns; from this version on, every
    * MERGE's incoming rows and every row-level UPDATE's new images must
    * satisfy it or the commit is REJECTED before a version is claimed
    * (SQL CHECK semantics: only rows where the predicate is FALSE violate
    * — NULL passes; add an explicit `IS NOT NULL` conjunct for
    * non-nullability). The CURRENT table must already satisfy the
    * constraint — that costs one full validation scan here, and is what
    * lets every reader afterwards trust the invariant without checking.
    * Constraints live in the manifest's properties line, so time travel
    * shows exactly which constraints governed which version.
    *
    * @return the new live version path
    */
  def addCheckConstraint(spark: SparkSession, root: String,
                         name: String, sql: String): String =
    alterManifest(spark, root, "ADD CONSTRAINT") { man =>
      require(name.matches("[A-Za-z0-9_.-]+"),
        s"constraint name '$name' must be [A-Za-z0-9_.-]+")
      require(!man.constraints.contains(name),
        s"constraint '$name' already exists: ${man.constraints(name)}")
      // existing data must satisfy the new invariant (also resolves the
      // expression against the schema — unknown columns fail loudly here)
      requireConstraints(ManifestIndex.dataFrame(spark, root, man),
        Map(name -> sql), s"existing data of $root")
      man.copy(properties =
        man.properties + (ManifestIndex.ConstraintPrefix + name -> sql))
    }

  /** Whether `name` is a declared CHECK constraint on the live version. */
  def hasCheckConstraint(spark: SparkSession, root: String,
                         name: String): Boolean = {
    currentManifest(spark, root)._2.constraints.contains(name)
  }

  /** Whether `root` is a graft versioned root: the `_current` pointer is
    * the layout's identity marker (written last, so an init that failed
    * before its pointer flip leaves a root this still reports as absent).
    */
  def isVersionedRoot(spark: SparkSession, root: String): Boolean = {
    val p = new Path(root, CurrentFile)
    p.getFileSystem(spark.sparkContext.hadoopConfiguration).exists(p)
  }

  /** Remove an ENTIRE versioned root — data, manifests, history (the SQL
    * `DROP TABLE graft.`…`` lowering). Refuses on any directory that is
    * not a versioned root: a mistyped path must never recursively delete
    * arbitrary data. Returns false (no-op) when the root does not exist
    * and `ifExists` tolerates it.
    */
  def dropTable(spark: SparkSession, root: String,
                ifExists: Boolean = false): Boolean = {
    val rootPath = new Path(root)
    val fs = rootPath.getFileSystem(spark.sparkContext.hadoopConfiguration)
    if (!fs.exists(rootPath)) {
      require(ifExists,
        s"dropTable: no table at $root (DROP TABLE IF EXISTS to tolerate)")
      return false
    }
    require(isVersionedRoot(spark, root),
      s"dropTable: $root is not a graft versioned root — refusing to " +
        "recursively delete an arbitrary directory")
    fs.delete(rootPath, true)
    true
  }

  /** Remove a CHECK constraint; later writers stop validating it. */
  def dropCheckConstraint(spark: SparkSession, root: String,
                          name: String): String =
    alterManifest(spark, root, "DROP CONSTRAINT") { man =>
      require(man.constraints.contains(name),
        s"no constraint '$name' (have: ${man.constraints.keys.mkString(",")})")
      man.copy(properties =
        man.properties - (ManifestIndex.ConstraintPrefix + name))
    }

  /** Declare a column NOT NULL (S69): existing data is validated (one
    * null-probe scan, predicate pushed down), then every later writer
    * gates incoming batches on it exactly like a CHECK constraint
    * ([[ManifestIndex.TableManifest.writerChecks]]). One metadata commit.
    */
  def setNotNull(spark: SparkSession, root: String, col: String): String =
    alterManifest(spark, root, "SET NOT NULL") { man =>
      requireTableColumn(spark, man, col, "setNotNull")
      require(!man.notNullCols.contains(col),
        s"column '$col' is already NOT NULL")
      if (!ManifestIndex.dataFrame(spark, root, man)
          .filter(org.apache.spark.sql.functions.col(col).isNull).isEmpty)
        throw new IllegalArgumentException(
          s"setNotNull: existing data of $root has NULLs in '$col'")
      man.copy(properties =
        man.properties + (ManifestIndex.NotNullPrefix + col -> "1"))
    }

  /** Remove a NOT NULL marker; later writers stop validating it. */
  def dropNotNull(spark: SparkSession, root: String, col: String): String =
    alterManifest(spark, root, "DROP NOT NULL") { man =>
      require(man.notNullCols.contains(col),
        s"column '$col' is not declared NOT NULL " +
          s"(have: ${man.notNullCols.toSeq.sorted.mkString(",")})")
      man.copy(properties =
        man.properties - (ManifestIndex.NotNullPrefix + col))
    }

  /** Declare a column DEFAULT (S70): an INSERT that omits the column gets
    * `defaultSql` instead of NULL ([[completeInsertColumns]]). The
    * expression must be column-free and cast to the column's type — both
    * validated HERE with a one-row evaluation, so a bad default fails the
    * declaration, not some later insert. Existing rows are untouched
    * (standard SET DEFAULT semantics — it shapes future inserts only).
    */
  def setColumnDefault(spark: SparkSession, root: String, col: String,
                       defaultSql: String): String =
    alterManifest(spark, root, "SET DEFAULT") { man =>
      requireTableColumn(spark, man, col, "setColumnDefault")
      require(!man.identity.exists(_._1 == col),
        s"setColumnDefault: '$col' is the GENERATED identity column")
      val colType = (ManifestIndex.activeSchema(man.dataSchema) ++
        man.partitionSchema).find(_.name == col).get.dataType
      // loud validation: unresolvable names, non-castable types, runtime
      // cast failures (ANSI) all surface now. The probe row carries ZERO
      // columns (range(1).select()) so any column reference in the default
      // fails resolution — a default must be column-free (range(1) alone
      // would silently resolve a default referencing `id`)
      spark.range(1).select()
        .select(expr(defaultSql).cast(colType).as("v")).collect()
      man.copy(properties =
        man.properties + (ManifestIndex.DefaultPrefix + col -> defaultSql))
    }

  /** Remove a column DEFAULT; later inserts fill NULL again. */
  def dropColumnDefault(spark: SparkSession, root: String,
                        col: String): String =
    alterManifest(spark, root, "DROP DEFAULT") { man =>
      require(man.defaults.contains(col),
        s"column '$col' has no DEFAULT " +
          s"(have: ${man.defaults.keys.toSeq.sorted.mkString(",")})")
      man.copy(properties =
        man.properties - (ManifestIndex.DefaultPrefix + col))
    }

  /** Declare a BIGINT column GENERATED (identity, S71): an INSERT that
    * omits it gets values strictly above the committed high-water mark —
    * `W + 1 + monotonically_increasing_id()`, so generation is
    * distributed (no window, no single partition) at the cost of GAPS
    * between partitions (the documented Delta identity tradeoff: unique
    * and increasing, not dense). The advanced mark commits in the SAME
    * manifest write as the rows that consumed it — a crash between jobs
    * can never replay an id — and explicit values are refused at the
    * writer ([[commitFreshRows]]'s gate) because a value above the mark
    * would collide with a future generated one.
    *
    * Declaration cost: one `max(col)` scan to seed the mark from data
    * already present.
    */
  def setIdentityColumn(spark: SparkSession, root: String,
                        col: String): String =
    alterManifest(spark, root, "SET IDENTITY") { man =>
      requireTableColumn(spark, man, col, "setIdentityColumn")
      require(man.identity.isEmpty,
        s"table already has identity column '${man.identity.get._1}'")
      require(!man.defaults.contains(col),
        s"setIdentityColumn: '$col' carries a DEFAULT — dropColumnDefault first")
      val colType = (ManifestIndex.activeSchema(man.dataSchema) ++
        man.partitionSchema).find(_.name == col).get.dataType
      require(colType == org.apache.spark.sql.types.LongType,
        s"setIdentityColumn: '$col' must be BIGINT, got ${colType.sql}")
      val mx = ManifestIndex.dataFrame(spark, root, man)
        .agg(max(org.apache.spark.sql.functions.col(col))).first()
      val hw = if (mx.isNullAt(0)) 0L else math.max(0L, mx.getLong(0))
      man.copy(properties =
        man.properties + (ManifestIndex.IdentityPrefix + col -> hw.toString))
    }

  /** Declare a column GENERATED ALWAYS AS `exprSql` (S77, the Delta
    * generated-column shape): an INSERT that omits the column gets the
    * expression computed from the SAME row's other columns; a write that
    * PROVIDES it must match — [[ManifestIndex.TableManifest.writerChecks]]
    * carries the null-safe equality probe, so every write path (append,
    * replace, upsert, DV update, MERGE) either preserves the invariant or
    * refuses loudly. There is no silent recompute-on-update: an UPDATE
    * that changes a referenced base column without re-deriving the
    * generated one is REFUSED by the probe, which is the safe half of
    * Delta's behavior and the honest one for an engine whose DML sets
    * columns explicitly.
    *
    * Validated here, loudly: the expression must resolve against the
    * table's OTHER columns (self-reference and references to other
    * generated columns are refused — no hidden evaluation order), must be
    * deterministic, must cast to the column's type, and EXISTING rows
    * must already satisfy it (one probe scan, the [[setNotNull]]
    * convention — declaring a lie is refused at declaration time, not at
    * some later write).
    */
  def setGeneratedColumn(spark: SparkSession, root: String, col: String,
                         exprSql: String): String =
    alterManifest(spark, root, "SET GENERATED") { man =>
      requireTableColumn(spark, man, col, "setGeneratedColumn")
      val resolver = spark.sessionState.analyzer.resolver
      require(!man.identity.exists(p => resolver(p._1, col)),
        s"setGeneratedColumn: '$col' is the GENERATED identity column")
      require(!man.defaults.keys.exists(resolver(_, col)),
        s"setGeneratedColumn: '$col' carries a DEFAULT — dropColumnDefault " +
          "first (a column cannot be both defaulted and generated)")
      require(!man.generatedCols.keys.exists(resolver(_, col)),
        s"setGeneratedColumn: '$col' is already generated — " +
          "dropGeneratedColumn first")
      val refs = referencedColumns(spark, exprSql)
      require(!refs.exists(resolver(_, col)),
        s"setGeneratedColumn: expression references '$col' itself")
      man.generatedCols.keys.foreach { g =>
        require(!refs.exists(resolver(_, g)),
          s"setGeneratedColumn: expression references generated column '$g' " +
            "— generation expressions see only base columns (no hidden " +
            "evaluation order)")
      }
      val colType = (ManifestIndex.activeSchema(man.dataSchema) ++
        man.partitionSchema).find(_.name == col).get.dataType
      // resolve + cast against the table's own schema (zero rows read);
      // determinism checked on the ANALYZED expressions — rand() in a
      // generated column would make the writer probe unsatisfiable
      val probe = ManifestIndex.dataFrame(spark, root, man).limit(0)
        .select(expr(exprSql).cast(colType).as("v"))
      require(probe.queryExecution.analyzed.expressions.forall(_.deterministic),
        s"setGeneratedColumn: expression must be deterministic: $exprSql")
      // a scalar subquery RESOLVES (the session catalog is in scope) and
      // reports deterministic, but generation would then depend on ANOTHER
      // table's current state — the writer probe would start refusing
      // every write the moment that table changes (review fix: refuse the
      // declaration, not some later insert)
      require(!probe.queryExecution.analyzed.expressions.exists(_.exists(
          _.isInstanceOf[org.apache.spark.sql.catalyst.expressions.SubqueryExpression])),
        s"setGeneratedColumn: expression must not contain a subquery — " +
          s"generation is a pure function of the row's own columns: $exprSql")
      probe.collect()
      // existing rows must already satisfy the invariant the writers will
      // enforce from now on
      val bad = ManifestIndex.dataFrame(spark, root, man)
        .filter(!(org.apache.spark.sql.functions.col(col) <=>
          expr(exprSql).cast(colType))).limit(1).count()
      require(bad == 0L,
        s"setGeneratedColumn: existing data of $root has rows where " +
          s"'$col' <> ($exprSql)")
      man.copy(properties =
        man.properties + (ManifestIndex.GeneratedPrefix + col -> exprSql))
    }

  /** Remove a GENERATED ALWAYS AS declaration; the column keeps its
    * current values and later inserts must provide it (or get NULL).
    */
  def dropGeneratedColumn(spark: SparkSession, root: String,
                          col: String): String =
    alterManifest(spark, root, "DROP GENERATED") { man =>
      require(man.generatedCols.contains(col),
        s"column '$col' is not generated " +
          s"(have: ${man.generatedCols.keys.toSeq.sorted.mkString(",")})")
      man.copy(properties =
        man.properties - (ManifestIndex.GeneratedPrefix + col))
    }

  /** Declare a UNIQUE constraint over `cols` (S78) — the hard guarantee
    * Delta/Iceberg leave "informational", priced honestly: existing data
    * is validated at declaration (one grouped scan), and every write
    * path afterwards either PROVES it preserves uniqueness or refuses
    * loudly:
    *
    *  - APPEND / COPY INTO: the batch must be duplicate-free within
    *    itself AND against the current snapshot — one grouped probe plus
    *    one semi-join against the key columns (column-pruned scan; at
    *    100 TB this read is the honest minimum for a hard guarantee,
    *    and the reason the big lakehouses don't enforce UNIQUE at all).
    *  - REPLACE / TRUNCATE: intra-batch probe only (nothing survives).
    *  - UPSERT / MERGE / partitioned merge: allowed when the constraint
    *    columns EQUAL the operation's keys (replace-by-key preserves key
    *    uniqueness; sources are probed duplicate-free) and no UPDATE
    *    assignment targets a constraint column; anything else refuses
    *    with the reason.
    *  - UPDATE: allowed unless an assignment targets a constraint column.
    *  - DELETE: always allowed (removing rows cannot create duplicates).
    *
    * SQL semantics: rows with a NULL in ANY constraint column are exempt
    * (standard UNIQUE — NULLs never conflict). NOT NULL composes when
    * key-completeness is wanted.
    */
  def addUniqueConstraint(spark: SparkSession, root: String, name: String,
                          cols: Seq[String]): String =
    alterManifest(spark, root, "ADD UNIQUE") { man =>
      require(cols.nonEmpty, "addUniqueConstraint: empty column list")
      require(cols.distinct.size == cols.size,
        s"addUniqueConstraint: duplicate columns in (${cols.mkString(",")})")
      require(cols.forall(!_.contains(",")),
        "addUniqueConstraint: column names may not contain ','")
      cols.foreach(requireTableColumn(spark, man, _, "addUniqueConstraint"))
      require(!man.uniqueConstraints.contains(name),
        s"addUniqueConstraint: constraint '$name' already exists")
      val dup = keyedNonNull(ManifestIndex.dataFrame(spark, root, man), cols)
        .groupBy(cols.map(c => col(s"`$c`")): _*)
        .agg(count(lit(1)).as("__n")).filter(col("__n") > 1L)
      require(dup.isEmpty,
        s"addUniqueConstraint: existing data of $root has duplicate " +
          s"(${cols.mkString(",")}) rows")
      man.copy(properties =
        man.properties +
          (ManifestIndex.UniquePrefix + name -> cols.mkString(",")))
    }

  /** Whether the table declares a UNIQUE constraint named `name`. */
  def hasUniqueConstraint(spark: SparkSession, root: String,
                          name: String): Boolean =
    currentManifest(spark, root)._2.uniqueConstraints.contains(name)

  /** Remove a UNIQUE constraint; later writes stop paying its probes. */
  def dropUniqueConstraint(spark: SparkSession, root: String,
                           name: String): String =
    alterManifest(spark, root, "DROP UNIQUE") { man =>
      require(man.uniqueConstraints.contains(name),
        s"no UNIQUE constraint '$name' " +
          s"(have: ${man.uniqueConstraints.keys.toSeq.sorted.mkString(",")})")
      man.copy(properties =
        man.properties - (ManifestIndex.UniquePrefix + name))
    }

  /** Declare which columns get per-file Bloom filters on the FUTURE
    * commits of `root` ([[ManifestIndex.BloomKey]]); `Nil` drops the
    * declaration. Validated against the live schema before the version
    * is claimed — a misspelled or ineligible column would otherwise be
    * silently ignored by every later commit. One metadata commit.
    */
  def setBloomColumns(spark: SparkSession, root: String,
                      cols: Seq[String]): String =
    alterManifest(spark, root, "SET BLOOM COLUMNS") { man =>
      ManifestIndex.validateBloomColumns(cols, man.dataSchema)
      man.withColumnList(ManifestIndex.BloomKey, cols)
    }

  /** Declare the table's write-time clustering (S80,
    * [[ManifestIndex.ClusterKey]]; `ALTER TABLE … CLUSTER BY`), or drop it
    * with `Nil` (`CLUSTER BY NONE`) so future writes land unplaced.
    * Validated against the live schema before the version is claimed.
    * Existing file layout is untouched either way (OPTIMIZE rewrites).
    * One metadata commit.
    */
  def setClusterColumns(spark: SparkSession, root: String,
                        cols: Seq[String]): String =
    alterManifest(spark, root,
        if (cols.isEmpty) "CLUSTER BY NONE" else "CLUSTER BY") { man =>
      ManifestIndex.validateClusterColumns(cols, man.dataSchema,
        man.partitionSchema)
      man.withColumnList(ManifestIndex.ClusterKey, cols)
    }

  /** Rows with every `cols` value non-null — the UNIQUE-relevant subset
    * (SQL: NULLs never conflict), projected to the constraint columns.
    */
  private def keyedNonNull(df: DataFrame, cols: Seq[String]): DataFrame =
    df.filter(cols.map(c => col(s"`$c`").isNotNull).reduce(_ && _))
      .select(cols.map(c => col(s"`$c`")): _*)

  /** The UNIQUE write gate: `batch` must be duplicate-free within itself
    * and (when `existing` is given) against it, per declared constraint.
    * One grouped probe + optional semi-join per constraint, refused
    * BEFORE any version is claimed.
    */
  private def requireUniqueBatch(man: ManifestIndex.TableManifest,
                                 batch: DataFrame,
                                 existing: Option[DataFrame],
                                 what: String): Unit =
    man.uniqueConstraints.foreach { case (name, cols) =>
      val keyed = keyedNonNull(batch, cols)
      val dup = keyed.groupBy(cols.map(c => col(s"`$c`")): _*)
        .agg(count(lit(1)).as("__n")).filter(col("__n") > 1L)
      require(dup.isEmpty,
        s"$what violates UNIQUE constraint '$name' " +
          s"(${cols.mkString(",")}): duplicate keys within the batch")
      existing.foreach { ex =>
        val hit = keyed.join(keyedNonNull(ex, cols), cols, "left_semi")
        require(hit.isEmpty,
          s"$what violates UNIQUE constraint '$name' " +
            s"(${cols.mkString(",")}): keys already present in the table")
      }
    }

  /** Refuse an operation whose keys don't carry a UNIQUE constraint's
    * guarantee (set equality under the session resolver).
    */
  private def requireUniqueKeysMatch(spark: SparkSession,
                                     man: ManifestIndex.TableManifest,
                                     keys: Seq[String], op: String): Unit = {
    val resolver = spark.sessionState.analyzer.resolver
    man.uniqueConstraints.foreach { case (name, cols) =>
      require(cols.forall(c => keys.exists(resolver(_, c))) &&
          keys.forall(k => cols.exists(resolver(k, _))),
        s"$op: UNIQUE constraint '$name' (${cols.mkString(",")}) must " +
          s"equal the operation keys (${keys.mkString(",")}) — replace-by-" +
          "key preserves exactly that key set; for anything else drop the " +
          "constraint or rewrite via append/replace")
    }
  }

  /** Refuse assignments that touch a UNIQUE constraint column — an
    * updated value could collide with an untouched row, and proving it
    * doesn't would cost a full probe per assignment.
    */
  private def requireNoUniqueAssignment(spark: SparkSession,
                                        man: ManifestIndex.TableManifest,
                                        setCols: Iterable[String],
                                        op: String): Unit = {
    val resolver = spark.sessionState.analyzer.resolver
    man.uniqueConstraints.foreach { case (name, cols) =>
      cols.foreach { c =>
        require(!setCols.exists(resolver(_, c)),
          s"$op: cannot assign '$c' — covered by UNIQUE constraint " +
            s"'$name' (an assigned value could collide with an untouched " +
            "row); drop the constraint first or delete+insert instead")
      }
    }
  }

  /** Complete an INSERT batch that omits table columns: the identity
    * column gets generated values (see [[setIdentityColumn]]), DEFAULTed
    * columns their declared expression, GENERATED ALWAYS AS columns
    * their generation expression (computed AFTER defaults and identity,
    * so it may reference them), anything else NULL — standard
    * SQL INSERT column-list semantics. Returns the completed frame plus
    * the extra manifest properties the commit MUST carry (the advanced
    * identity high-water); pass them to [[appendVersionedRows]] /
    * [[replaceVersionedRows]] `extraProps`.
    *
    * Cost: when the identity column is filled, the batch is materialized
    * once (tracked cache) to read `max(assigned)` — the id block consumed
    * must be known before the commit that claims it.
    */
  def completeInsertColumns(spark: SparkSession, root: String,
                            df: DataFrame): (DataFrame, Map[String, String]) = {
    val man = currentManifest(spark, root)._2
    val resolver = spark.sessionState.analyzer.resolver
    val tableCols = (ManifestIndex.activeSchema(man.dataSchema) ++
      man.partitionSchema)
    def has(c: String) = df.columns.exists(resolver(_, c))
    man.identity.foreach { case (c, _) =>
      require(!has(c),
        s"completeInsertColumns: '$c' is GENERATED — omit it from the " +
          "insert column list (its values are assigned, not accepted)")
    }
    val missing = tableCols.filterNot(f => has(f.name))
    if (missing.isEmpty) return (df, Map.empty)
    def isGenerated(n: String) = man.generatedCols.keys.exists(resolver(_, n))
    val withDefaults = missing.foldLeft(df) { (acc, f) =>
      man.identity match {
        case Some((c, _)) if resolver(c, f.name) => acc // identity below
        case _ if isGenerated(f.name) => acc // generated below
        case _ => acc.withColumn(f.name,
          expr(man.defaults.getOrElse(f.name, "NULL")).cast(f.dataType))
      }
    }
    val (withIdentity, props) = man.identity match {
      case Some((c, hw)) =>
        val filled = graft.util.Caches.cache(withDefaults.withColumn(c,
          lit(hw) + 1L + monotonically_increasing_id())).toDF
        val mxRow = filled.agg(max(org.apache.spark.sql.functions.col(c))).first()
        val newHw = if (mxRow.isNullAt(0)) hw else mxRow.getLong(0)
        (filled, Map(ManifestIndex.IdentityPrefix + c -> newHw.toString))
      case None => (withDefaults, Map.empty[String, String])
    }
    // generated columns LAST: their expressions may reference defaulted
    // or identity columns (declaration refuses references to other
    // generated columns, so there is no order among these fills)
    val complete = missing.filter(f => isGenerated(f.name))
      .foldLeft(withIdentity) { (acc, f) =>
        val sql = man.generatedCols
          .collectFirst { case (k, v) if resolver(k, f.name) => v }.get
        acc.withColumn(f.name, expr(sql).cast(f.dataType))
      }
    (complete, props)
  }

  private def requireTableColumn(spark: SparkSession,
                                 man: ManifestIndex.TableManifest,
                                 col: String, op: String): Unit = {
    val all = (ManifestIndex.activeSchema(man.dataSchema) ++
      man.partitionSchema).map(_.name)
    require(all.contains(col),
      s"$op: no column '$col' (have: ${all.mkString(",")})")
  }

  /** Idempotent batch file ingest (S73, the Databricks `COPY INTO`
    * shape): load every data file under `source` that the table's ingest
    * ledger does not already record, append the rows, and mark the files
    * — ledger and rows in ONE manifest commit (`extraProps`), so
    * at-least-once delivery of the same files yields exactly-once rows:
    * a replayed call finds every file marked and no-ops; a crash before
    * the commit leaves the batch's files unmarked and the retry
    * re-ingests them whole. The batch-level `txn` watermark (S48) covers
    * writers that can present a monotone batch id; COPY INTO covers the
    * other half — drop-a-file-in-a-directory pipelines where the FILE SET
    * is the only identity there is.
    *
    * `format`: parquet (self-describing) or csv/json (read with the
    * table's schema — headerless columns land positionally for csv).
    * Subdirectories are not traversed (one ledger entry per FILE; a
    * partitioned drop zone should COPY each leaf or use a glob).
    *
    * @return (live version path, number of files ingested) — (current, 0)
    *         when everything was already ingested.
    */
  def copyInto(spark: SparkSession, root: String, source: String,
               format: String = "parquet",
               options: Map[String, String] = Map.empty): (String, Int) =
    graft.util.DmlTimer.timed {
      require(Set("parquet", "csv", "json").contains(format.toLowerCase),
        s"copyInto: unsupported FILEFORMAT '$format' (parquet|csv|json)")
      val man = currentManifest(spark, root)._2
      val srcPath = new Path(source)
      val fs = srcPath.getFileSystem(spark.sparkContext.hadoopConfiguration)
      val matched =
        if (fs.isDirectory(srcPath)) fs.listStatus(srcPath).toSeq
        else fs.globStatus(srcPath) match {
          case null => Seq.empty
          case arr => arr.toSeq
        }
      // FULL uri strings: stripping the scheme would re-resolve the read
      // against the default filesystem (wrong or missing files on a
      // cluster whose drop zone lives elsewhere) and collide ledger keys
      // across filesystems sharing a path (review fix)
      val files = matched.filter(st => st.isFile &&
          !st.getPath.getName.startsWith("_") &&
          !st.getPath.getName.startsWith("."))
        .map(_.getPath.toString).sorted
      require(files.nonEmpty || matched.nonEmpty,
        s"copyInto: nothing matches $source")
      val fresh = files.filterNot(f =>
        man.properties.contains(ManifestIndex.IngestPrefix + f))
      if (fresh.isEmpty) return (resolveCurrent(spark, root), 0)
      val schema = org.apache.spark.sql.types.StructType(
        ManifestIndex.activeSchema(man.dataSchema) ++ man.partitionSchema)
      val reader = spark.read.options(options)
      val df = format.toLowerCase match {
        case "parquet" => reader.parquet(fresh: _*)
        case "csv" => reader.schema(schema).csv(fresh: _*)
        case "json" => reader.schema(schema).json(fresh: _*)
      }
      val before = currentVersionNumber(spark, root)
      val ledger = fresh.map(f =>
        ManifestIndex.IngestPrefix + f -> (before + 1).toString).toMap
      val path = appendVersionedRows(spark, root, df, extraProps = ledger)
      // all-empty fresh files: the append no-opped and DROPPED the ledger
      // (an empty append discards extraProps by contract) — mark them with
      // a metadata-only commit or every later call re-reads the same empty
      // files forever (review fix)
      val live =
        if (currentVersionNumber(spark, root) != before) path
        else alterManifest(spark, root, "COPY INTO")(m =>
          m.copy(properties = m.properties ++ ledger))
      (live, fresh.length)
    }

  /** Range-place a fresh batch on (partition cols, z-value) and sort
    * within tasks, so each leaf's files carry tight per-file min/max on
    * the z dimensions — compaction's z-order clustering applied at the
    * APPEND boundary (the partition columns join the range key because
    * `partitionBy` will split each task's output by leaf; without them a
    * z-range would scatter across every leaf's files).
    */
  private def clusterForWrite(rows: DataFrame, pcols: Seq[String],
                              zCols: Seq[String], what: String,
                              bits: Int = 8): DataFrame = {
    zCols.foreach(c => require(!pcols.contains(c),
      s"$what: z-order column '$c' is a partition column — the leaves " +
        "already split on it"))
    val stats = rows.select(zCols.flatMap(c =>
      Seq(min(col(c).cast("double")), max(col(c).cast("double")))): _*).head()
    val usable = zCols.indices.flatMap { i =>
      if (stats.isNullAt(2 * i) || stats.isNullAt(2 * i + 1)) None
      else {
        val lo = stats.getDouble(2 * i)
        val hi = stats.getDouble(2 * i + 1)
        Some((zCols(i), (lo, if (hi > lo) hi else lo + 1.0)))
      }
    }
    if (usable.isEmpty) rows
    else {
      val z = rows.withColumn("__z", zValue(usable.map(u => col(u._1)),
        usable.map(_._2), bits))
      // `graft.write.filesPerLeaf` ≥ 2 pins an explicit range-split count
      // (for a clustered write: TOTAL ranges per commit) — a bare
      // expression-repartition is an AQE coalescing target, and a small
      // batch would fold back into ONE file whose z envelope spans the
      // whole commit, dissolving file-grain skipping. Left unset, AQE
      // governs: at scale the advisory size splits the range shuffle into
      // target-sized, z-contiguous (therefore tight-enveloped) files.
      val files = rows.sparkSession.conf.getOption("graft.write.filesPerLeaf")
        .map(_.trim.toInt).getOrElse(1)
      val ranged =
        if (files >= 2)
          z.repartitionByRange(files, (pcols :+ "__z").map(col): _*)
        else z.repartitionByRange((pcols :+ "__z").map(col): _*)
      ranged.sortWithinPartitions((pcols :+ "__z").map(col): _*)
        .drop("__z")
    }
  }

  /** The CHECK constraints a batch actually has to probe: a synthesized
    * null probe is PROVABLY satisfied when the incoming batch's own plan
    * schema already declares the column non-nullable (Catalyst
    * nullability is a guarantee, not a hint) — skip it, so the
    * schema-level gate costs nothing on the common non-null→non-null
    * write and a probe only runs where a null could actually arrive.
    * Sorted by name so violation reporting order is deterministic.
    */
  private def neededChecks(df: DataFrame,
                           constraints: Map[String, String])
      : Seq[(String, String)] =
    constraints.filterNot { case (name, _) =>
      Seq("__schema_not_null_", "__not_null_").exists { p =>
        name.startsWith(p) && {
          val c = name.stripPrefix(p)
          df.schema.find(_.name == c).exists(!_.nullable)
        }
      }
    }.toSeq.sortBy(_._1)

  /** Throw for every violated check given the per-check violation counts
    * (positionally aligned with `checks`). Shared by the standalone
    * validation job and the writers that fold validation into a combined
    * probe aggregate (r18 perf).
    */
  private def raiseCheckViolations(checks: Seq[(String, String)],
                                   countAt: Int => Long,
                                   what: String): Unit =
    checks.zipWithIndex.foreach { case ((name, sql), i) =>
      if (countAt(i) > 0)
        throw new IllegalArgumentException(
          s"$what violates CHECK constraint '$name' ($sql)")
    }

  /** Reject `df` if any row makes a constraint predicate FALSE (NULL
    * passes — SQL CHECK semantics). Every check [[neededChecks]] keeps is
    * counted in one combined aggregate over `df`.
    */
  private def requireConstraints(df: DataFrame,
                                 constraints: Map[String, String],
                                 what: String): Unit = {
    val needed = neededChecks(df, constraints)
    if (needed.isEmpty) return
    // ONE combined pass instead of a probe job per check: a clean batch
    // scans fully under either shape, so N checks cost N scans the
    // per-check way — the combined conditional-count aggregate pays one
    val counts = df.select(needed.map { case (name, sql) =>
      count(when(!expr(sql), 1)).as(name) }: _*).first()
    raiseCheckViolations(needed, counts.getLong, what)
  }

  /** Column names an expression references — used to refuse renaming or
    * dropping a column out from under a stored constraint.
    */
  private def referencedColumns(spark: SparkSession, sql: String): Set[String] =
    spark.sessionState.sqlParser.parseExpression(sql).collect {
      case a: org.apache.spark.sql.catalyst.analysis.UnresolvedAttribute =>
        a.name
    }.toSet

  private def requireNoConstraintReference(spark: SparkSession,
                                           man: ManifestIndex.TableManifest,
                                           col: String, op: String): Unit = {
    // compare with the SESSION resolver — constraint enforcement resolves
    // case-insensitively by default, so the guard must too, or a rename
    // slips past it and every later writer fails analysis
    val resolver = spark.sessionState.analyzer.resolver
    man.constraints.foreach { case (name, sql) =>
      require(!referencedColumns(spark, sql).exists(resolver(_, col)),
        s"$op: column '$col' is referenced by CHECK constraint '$name' " +
          s"($sql) — drop the constraint first")
    }
    // the column-keyed markers guard the same way: renaming/dropping the
    // column out from under them would orphan writer-enforced state
    require(!man.notNullCols.exists(resolver(_, col)),
      s"$op: column '$col' is declared NOT NULL — dropNotNull first")
    require(!man.defaults.keys.exists(resolver(_, col)),
      s"$op: column '$col' carries a DEFAULT — dropColumnDefault first")
    require(!man.identity.exists(p => resolver(p._1, col)),
      s"$op: column '$col' is the GENERATED identity column")
    require(!man.generatedCols.keys.exists(resolver(_, col)),
      s"$op: column '$col' is GENERATED ALWAYS AS — dropGeneratedColumn first")
    man.uniqueConstraints.foreach { case (n, cs) =>
      require(!cs.exists(resolver(_, col)),
        s"$op: column '$col' is covered by UNIQUE constraint '$n' — " +
          "dropUniqueConstraint first")
    }
    man.generatedCols.foreach { case (g, sql) =>
      require(!referencedColumns(spark, sql).exists(resolver(_, col)),
        s"$op: column '$col' is referenced by generated column '$g' " +
          s"($sql) — dropGeneratedColumn first")
    }
  }

  /** RESTORE a manifest root to an earlier version — as a NEW commit
    * whose manifest is the old version's (schema, entries, constraints),
    * not a pointer rewind: history stays append-only, the bad versions
    * remain inspectable until vacuum, readers serialize through the same
    * atomic flip, and a change feed from the bad version to the restore
    * shows exactly the inverse of the mistake. O(metadata): the restored
    * entries reference the old files, which the new manifest keeps alive
    * through vacuum.
    *
    * @return the new live version path
    */
  def restoreVersion(spark: SparkSession, root: String, version: Int): String = graft.util.DmlTimer.timed {
    val old = ManifestIndex.read(spark, root, versionName(version))
    val cur = resolveCurrent(spark, root)
    require(cur != s"$root/${versionName(version)}",
      s"restoreVersion: version $version is already live")
    // "the table as it was" — schema, entries, DVs AND constraints come
    // from the restored version; only the operation stamp is this commit's
    commit(spark, root, cur, "RESTORE")(_ => old)
  }

  /** (live version path, manifest) of a versioned root — the preamble
    * every reader and writer shares, and the ONE check that `root` is a
    * table: a root without a pointer, or whose live version has no
    * manifest, fails here with an IllegalArgumentException naming it
    * ([[resolveCurrent]], [[ManifestIndex.read]]).
    */
  def currentManifest(spark: SparkSession, root: String)
      : (String, ManifestIndex.TableManifest) = {
    val cur = resolveCurrent(spark, root)
    (cur, ManifestIndex.read(spark, root, cur.substring(cur.lastIndexOf('/') + 1)))
  }

  /** Shared maintenance rewrite: materialize `leaves` of the live manifest
    * into the next version ([[rewriteEntries]]: one scan, one write),
    * carry every other entry, commit as `operation`. Purge and re-home
    * differ only in leaf selection.
    */
  private def rewriteLeaves(spark: SparkSession, root: String, cur: String,
                            man: ManifestIndex.TableManifest,
                            leaves: Set[String],
                            targetBytes: Long, operation: String): String =
    commit(spark, root, cur, operation) { next =>
      man.copy(entries = rewriteEntries(spark, root, next, man, leaves, targetBytes) ++
        man.entries.filterNot(e => leaves.contains(e.leaf)))
    }

  /** The ONE rewrite job behind purge, re-home and compaction: every leaf
    * in `leaves` is read in one scan (one DV anti-join; leaves written
    * under an earlier partition spec ride the mixed-spec read) and written
    * in one partitioned write into `version`. Rows re-land via the CURRENT
    * spec — for an old-spec leaf the current partition columns live in its
    * payload, so only partitioning the write puts them back in dir names.
    * Each current-spec leaf gets exactly ceil(live bytes / `targetBytes`)
    * shuffle buckets, one file each, through a direct partition id: its
    * own bucket range, split by the [[rowHash]] salt `leafSized` uses.
    * Old-spec rows fan out one file per target leaf. Live bytes discount
    * the rows a leaf's deletion vectors drop, so a mostly-deleted leaf
    * lands as one file instead of slivers the next compaction would
    * rewrite again. Returns the new entries.
    */
  private def rewriteEntries(spark: SparkSession, root: String, version: String,
                             man: ManifestIndex.TableManifest,
                             leaves: Set[String],
                             targetBytes: Long): Seq[ManifestIndex.Entry] = {
    val pspec = man.partitionSchema
    val pcols = pspec.fieldNames.toSeq
    val zone = spark.sessionState.conf.sessionLocalTimeZone
    def liveBytes(e: ManifestIndex.Entry): Double = (e.stats, e.dv) match {
      case (Some(st), Some(dv)) if st.rows > 0 =>
        e.size.toDouble * (st.rows - dv.rows) / st.rows
      case _ => e.size.toDouble
    }
    val sized = man.byLeaf.toSeq
      .filter { case (l, _) =>
        leaves.contains(l) && ManifestIndex.leafSpec(l) == pcols }
      .sortBy(_._1)
      .map { case (l, es) =>
        l -> math.max(1, math.ceil(es.map(liveBytes).sum / targetBytes).toInt) }
    val offsets = sized.scanLeft(0)(_ + _._2)
    val respecTasks =
      if (sized.size == leaves.size) 0
      else spark.conf.get("spark.sql.shuffle.partitions").toInt.max(1)
    val data = ManifestIndex.dataFrame(spark, root, man, Some(leaves))
    def quoted(c: String) = col(s"`$c`")
    val salt = rowHash(data)
    val rest: Column =
      if (respecTasks == 0) lit(0)
      else lit(offsets.last) + pmod(hash(pcols.map(quoted): _*), lit(respecTasks))
    val bucket = sized.zip(offsets).map { case ((leaf, files), off) =>
      val values = ManifestIndex.parseLeaf(leaf, pspec, zone)
      // the unpartitioned leaf "" holds every row
      val here = pspec.fields.zipWithIndex.map { case (f, i) =>
        quoted(f.name) <=> Shim.column(Literal(values.get(i, f.dataType), f.dataType))
      }.reduceOption(_ && _).getOrElse(lit(true))
      here -> (if (files == 1) lit(off) else lit(off) + pmod(salt, lit(files)))
    } match {
      case Seq() => rest
      case (c0, v0) +: more =>
        more.foldLeft(when(c0, v0)) { case (w, (c, v)) => w.when(c, v) }
          .otherwise(rest)
    }
    writeEntries(spark, root, version, man, pcols,
      data.repartitionById(offsets.last + respecTasks, bucket))
  }

  /** Re-home a SHALLOW CLONE: rewrite exactly the leaves that still
    * reference another root's files (absolute entry paths or absolute DV
    * sidecar paths — what [[cloneVersion]] creates on a manifest root)
    * into files owned by THIS root; already-local leaves carry as entries.
    * After this returns, vacuuming the source can no longer invalidate the
    * clone. Deletion vectors materialize in the rewrite (the rewritten
    * rows are the post-delete rows).
    *
    * @return (new live version path, leaves rewritten) — current path and
    *         0 when nothing references a foreign root.
    */
  def rehomeClone(spark: SparkSession, root: String,
                  targetBytes: Long = 128L << 20): (String, Int) = {
    val (cur, man) = currentManifest(spark, root)
    def foreign(p: String) = p.startsWith("/") || p.contains("://")
    val alien = man.byLeaf.filter(_._2.exists(e =>
      foreign(e.path) || e.dv.exists(d => foreign(d.path))))
    if (alien.isEmpty) return (cur, 0)
    (rewriteLeaves(spark, root, cur, man, alien.keySet, targetBytes, "REHOME"),
      alien.size)
  }

  /** Materialize every outstanding deletion vector of a manifest root:
    * leaves holding a DV-bearing entry are rewritten without their deleted
    * rows (compacted to ~`targetBytes` files), every clean leaf carries
    * forward as a manifest entry. Run it on the maintenance schedule, like
    * compaction — the read-side anti-join is cheap, but a file that is
    * mostly deleted rows still costs its full scan + skew in the
    * envelope-based skipping (stats describe pre-delete bounds).
    *
    * @return (new live version path, number of leaves rewritten) — the
    *         current path and 0 when no entry carries a DV.
    */
  def purgeDeletedRows(spark: SparkSession, root: String,
                       targetBytes: Long = 128L << 20): (String, Int) = graft.util.DmlTimer.timed {
    val (cur, man) = currentManifest(spark, root)
    val dvLeaves = man.byLeaf.filter(_._2.exists(_.dv.isDefined))
    if (dvLeaves.isEmpty) return (cur, 0)
    (rewriteLeaves(spark, root, cur, man, dvLeaves.keySet, targetBytes, "PURGE"),
      dvLeaves.size)
  }

  /** Knobs for [[maintain]] — the defaults are the individual operations'
    * own defaults, so `maintain(spark, root)` is the no-thought nightly
    * call.
    */
  case class MaintenancePolicy(targetBytes: Long = 128L << 20,
                               maxFiles: Int = 8,
                               zOrderCols: Seq[String] = Nil,
                               keepVersions: Int = 2,
                               purge: Boolean = true,
                               compact: Boolean = true,
                               vacuum: Boolean = true)

  /** What one [[maintain]] run did — all zeros on an already-healthy
    * table (idempotence: a second run over the same state is a no-op that
    * claims no version).
    */
  case class MaintenanceReport(purgedLeaves: Int, compactedLeaves: Int,
                               vacuumedVersions: Int, livePath: String)

  /** One-call maintenance for a versioned root — the ops story the
    * individual primitives spread across five calls, composed in the
    * order that converges a worked-over table in a single run:
    *
    *  1. PURGE ([[purgeDeletedRows]]): outstanding
    *     deletion vectors materialize — DV-bearing leaves rewrite without
    *     their dead rows (one write job, files sized by live bytes), so
    *     later steps (and every reader) stop paying the anti-join and the
    *     pre-delete stats skew.
    *  2. COMPACT ([[compactVersionedPartitioned]]): fragmented leaves
    *     coalesce toward `targetBytes` (optionally z-ordered), and leaves
    *     written under EARLIER partition specs re-land under the current
    *     spec — this is also where per-file stats and bloom filters
    *     SELF-HEAL: every rewritten file gets fresh envelopes/blooms from
    *     its write ([[FileStatsTracker]]), so blooms dropped by a
    *     type widening and stats lost to evolution regrow here.
    *  3. VACUUM ([[vacuumVersions]], `keepVersions`): reclaimable version
    *     dirs drain, reference-counted so files shared via carry-forward
    *     survive as long as any kept version names them.
    *
    * Each COMMITTING step runs under its own [[withCommitRetry]], so a
    * concurrent writer landing between steps makes that step re-plan
    * against the new base instead of failing the whole run — maintenance
    * must never lose a race to the workload it serves. Vacuum commits no
    * version (it only deletes unreferenced history) and needs no retry.
    *
    * Idempotent by composition: each step is individually a no-op on a
    * clean table (purge: no DVs → no version; compact: nothing fragmented
    * → no version; vacuum: nothing reclaimable → 0), so `maintain ∘
    * maintain ≡ maintain` — MaintenanceSpec pins this on a table with
    * DVs + fragments + pending renames at once.
    */
  def maintain(spark: SparkSession, root: String,
               policy: MaintenancePolicy = MaintenancePolicy()): MaintenanceReport = {
    val purged =
      if (policy.purge)
        withCommitRetry() { purgeDeletedRows(spark, root, policy.targetBytes)._2 }
      else 0
    val compacted =
      if (policy.compact) withCommitRetry() {
        compactVersionedPartitioned(spark, root, policy.targetBytes,
          policy.maxFiles, policy.zOrderCols)._2
      }
      else 0
    val vacuumed =
      if (policy.vacuum) vacuumVersions(spark, root, policy.keepVersions) else 0
    MaintenanceReport(purged, compacted, vacuumed, resolveCurrent(spark, root))
  }

  /** The leaf-pruned copy-on-write writers name the table's partition
    * columns (`pcols`, empty for an unpartitioned root) and cannot reason
    * across two partition specs (their affected-leaf sets are computed in
    * the CURRENT spec's value space); after a [[repartitionTable]] they
    * are refused until compaction converges the layout. Row-level DML
    * stays available throughout — it matches by key, not by leaf.
    */
  private def requireSpec(root: String, man: ManifestIndex.TableManifest,
                          pcols: Seq[String], op: String): Unit = {
    require(man.partitionSchema.fieldNames.toSeq == pcols,
      s"$op: $root is partitioned on " +
        s"(${man.partitionSchema.fieldNames.mkString(",")}), not " +
        s"(${pcols.mkString(",")})")
    requireUniformSpec(man, op)
  }

  private def requireUniformSpec(man: ManifestIndex.TableManifest,
                                 op: String): Unit = {
    val spec = man.partitionSchema.fieldNames.toSeq
    require(man.entries.forall(e => ManifestIndex.leafSpec(e.leaf) == spec),
      s"$op: the table carries leaves from an earlier partition spec " +
        s"(repartitionTable) — use row-level DML (upsertVersionedRows / " +
        "mergeIntoVersionedRows / deleteVersionedRows) or run " +
        "compactVersionedPartitioned to re-spec old leaves first")
  }

  /** Write one commit's data files: `rows` (logical column names, the
    * partition columns `pcols` included) land as hive leaves under
    * `root/version` in ONE Spark write whose tasks also collect every
    * file's stats ([[FileStatsTracker]]) — a commit pays no second job
    * and no re-read of the files it just wrote. Returns the new entries,
    * stats attached. With `leaf`, `rows` (partition columns dropped) are
    * added into that one leaf dir instead of replacing the version dir
    * (the z-ordered compaction's per-leaf range sort; the unpartitioned
    * leaf `""` is the version dir itself). `man` is the manifest the
    * files will belong to: its data schema names them and its declared
    * bloom columns get per-file blooms. Every manifest data writer —
    * [[publishVersion]] included — funnels through here, so physical
    * naming and stats never fork.
    */
  private def writeEntries(spark: SparkSession, root: String, version: String,
                           man: ManifestIndex.TableManifest, pcols: Seq[String],
                           rows: DataFrame,
                           leaf: Option[String] = None): Seq[ManifestIndex.Entry] = {
    val dataSchema = man.dataSchema
    val physical = ManifestIndex.toPhysical(rows, dataSchema)
    val tracker = ManifestIndex.statsTracker(spark, dataSchema,
      man.bloomColumns,
      StructType(physical.schema.filterNot(f => pcols.contains(f.name))),
      pcols.size)
    val sub = leaf.filter(_.nonEmpty)
    Shim.writeParquet(physical,
      sub.fold(s"$root/$version")(l => s"$root/$version/$l"), pcols,
      Seq(tracker), replace = leaf.isEmpty)
    tracker.files.map { f =>
      val rel = sub.fold(f.rel)(l => s"$l/${f.rel}")
      ManifestIndex.Entry(rel.substring(0, math.max(0, rel.lastIndexOf('/'))),
        s"$version/$rel", f.size, Some(f.stats))
    }.sortBy(_.path)
  }

  private def fsOf(spark: SparkSession, root: String) =
    new Path(root).getFileSystem(spark.sparkContext.hadoopConfiguration)

  /** [[affectedLeaves]] + CHECK validation in ONE job (r18 perf): the
    * distinct partition tuples and the per-check violation counts ride a
    * single groupBy aggregate over the updates frame (violation totals
    * fold across groups driver-side). Falls back to the separate
    * validation job + [[affectedLeaves]] when a partition column's type
    * is outside the exact-leaf-name fast path.
    */
  private def affectedLeavesChecked(updates: DataFrame, pcols: Seq[String],
                                    constraints: Map[String, String],
                                    what: String, root: String): Set[String] = {
    val checks = neededChecks(updates, constraints)
    val simple = pcols.forall(c => updates.schema(c).dataType match {
      case StringType | IntegerType | LongType | ShortType | ByteType |
           BooleanType => true
      case _ => false
    })
    if (!simple) {
      requireConstraints(updates, constraints, what)
      affectedLeaves(updates.select(pcols.map(col): _*), pcols, root)
    } else {
      import org.apache.spark.sql.catalyst.catalog.ExternalCatalogUtils
      val aggs = count(lit(1)).as("__n") +:
        checks.map { case (name, sql) => count(when(!expr(sql), 1)).as(name) }
      val rows = updates
        .groupBy(pcols.map(c => col(s"`$c`").cast(StringType)): _*)
        .agg(aggs.head, aggs.tail: _*).collect()
      raiseCheckViolations(checks,
        i => rows.iterator.map(_.getLong(pcols.length + 1 + i)).sum, what)
      // an unpartitioned batch groups globally: one row even when empty
      rows.filter(_.getLong(pcols.length) > 0).map { row =>
        pcols.indices.map { i =>
          val v = if (row.isNullAt(i)) null else row.getString(i)
          ExternalCatalogUtils.getPartitionPathString(pcols(i), v)
        }.mkString("/")
      }.toSet
    }
  }

  /** Distinct `pcols` tuples of `df` as hive-encoded leaf names
    * (`a=1/b=2`; the one leaf `""` of an unpartitioned root when `df` has
    * any row). Only partition metadata reaches the driver, O(#distinct
    * values).
    */
  private def affectedLeaves(df: DataFrame, pcols: Seq[String],
                             root: String): Set[String] = {
    if (pcols.isEmpty) return if (df.isEmpty) Set.empty else Set("")
    // Fast path (r18 perf): the distinct partition tuples are O(#leaves)
    // metadata either way — collect them directly and build the hive leaf
    // names with Spark's OWN escaping (ExternalCatalogUtils, the code the
    // file writer itself goes through), instead of paying a parquet
    // scratch WRITE + dir listing + recursive delete per DML call just to
    // read the names back. Values reach the driver through a Catalyst
    // cast-to-string so the string form is the writer's, not the JVM's.
    // Types whose partition-path rendering has its own formatter
    // (timestamps, decimals, …) keep the write-and-list path — name
    // parity there is guaranteed by construction, not re-implemented.
    val simple = df.schema.fields.forall(_.dataType match {
      case StringType | IntegerType | LongType | ShortType | ByteType |
           BooleanType => true
      case _ => false
    })
    if (simple) {
      import org.apache.spark.sql.catalyst.catalog.ExternalCatalogUtils
      df.select(pcols.map(c => col(s"`$c`").cast(StringType)): _*)
        .distinct().collect()
        .map { row =>
          pcols.indices.map { i =>
            val v = if (row.isNullAt(i)) null else row.getString(i)
            ExternalCatalogUtils.getPartitionPathString(pcols(i), v)
          }.mkString("/")
        }.toSet
    } else {
      val spark = df.sparkSession
      val tmp = s"$root/.affected-${System.nanoTime()}"
      df.distinct().withColumn("__one", lit(1))
        .write.mode(SaveMode.Overwrite).partitionBy(pcols: _*).parquet(tmp)
      val p = new Path(tmp)
      val fs = p.getFileSystem(spark.sparkContext.hadoopConfiguration)
      val names = leafNames(fs, p)
      fs.delete(p, true)
      names
    }
  }

  /** Relative paths of the TERMINAL hive partition dirs under `dir`:
    * `pcol=v` for single-level layouts, `a=1/b=2/...` for multi-level —
    * a dir is a leaf when it has no `=`-named subdirectories.
    */
  private def leafNames(fs: org.apache.hadoop.fs.FileSystem, dir: Path): Set[String] = {
    val acc = scala.collection.mutable.Set[String]()
    def rec(p: Path, prefix: String): Unit = {
      val parts = fs.listStatus(p).filter(st =>
        st.isDirectory && st.getPath.getName.contains("="))
      if (parts.isEmpty) { if (prefix.nonEmpty) acc += prefix }
      else parts.foreach(st => rec(st.getPath,
        if (prefix.isEmpty) st.getPath.getName
        else s"$prefix/${st.getPath.getName}"))
    }
    if (fs.exists(dir)) rec(dir, "")
    acc.toSet
  }

  // ------------------------------------------------------------- change feed

  /** Change data feed between two versions of a versioned root: one row per
    * changed key, tagged `_change_type` ∈ {insert, delete, update_pre,
    * update_post} (updates emit BOTH the before and after image, the shape
    * downstream incremental consumers — streaming joins, audit diffs, cache
    * invalidation — need). Unchanged rows never appear.
    *
    * Shape: ONE full-outer join of the two snapshots on `keys` (each side
    * reduced to key + a single payload struct), then one generator
    * projection — never a 4-way union of per-type joins, so the join runs
    * once. Identical rows drop out on a null-safe struct compare (NaN
    * equals NaN, null equals null — change detection, not arithmetic).
    *
    * Scale: leaves whose manifest entries are identical in both versions —
    * every partition a key-pruned merge or delete left untouched — are
    * pruned by MANIFEST COMPARE before any row is read: data files are
    * immutable once written, so equal (path, size, DV) entry sets prove a
    * leaf's rows are identical, with no stat call (object stores too). The
    * diff of a 1-partition merge on a 100 TB table scans one partition,
    * not the table; an unpartitioned root is one leaf and diffs in full.
    *
    * Contract: `keys` are unique and non-null within each snapshot (the
    * invariant [[mergeVersionedPartitioned]] and the row-level writers
    * maintain); shared column names must keep the same type across
    * versions; columns added by schema evolution read as null on the
    * older side.
    */
  def changeFeed(spark: SparkSession, root: String, fromVersion: Int,
                 toVersion: Int, keys: Seq[String]): DataFrame = {
    require(fromVersion != toVersion, "changeFeed: versions must differ")
    val mf = ManifestIndex.read(spark, root, versionName(fromVersion))
    val mt = ManifestIndex.read(spark, root, versionName(toVersion))
    // the DV reference is part of the identity: a row-delete rewrites no
    // file, but its leaf must still read as changed or the feed misses
    // the deletions
    def sig(m: ManifestIndex.TableManifest) =
      m.byLeaf.view.mapValues(_.map(e => (e.path, e.size, e.dv)).toSet).toMap
    val (fb, tb) = (sig(mf), sig(mt))
    val changed = (fb.keySet ++ tb.keySet).filter(l => fb.get(l) != tb.get(l))
    // RENAMES and DROPS between the versions are metadata-only: align
    // the from-side to the to-side's logical names by PHYSICAL identity
    // in ONE aliasing projection — a fold of withColumnRenamed would
    // corrupt chained/swapped renames (renaming a into b while another
    // column still holds b renames BOTH) — and columns the to-side no
    // longer carries (drops) simply vanish from the projection
    // the to-side's column universe includes its PARTITION spec: a
    // repartitionTable between the versions moves a column from
    // dataSchema into partitionSchema (or back), and aligning against
    // dataSchema alone silently dropped the moved column from the
    // from-side projection — every unchanged row in a changed leaf then
    // diffed as a spurious update pair with a null pre-image for that
    // column (ADVICE r10, high). Spec columns are physical-identity by
    // construction (repartitionTable refuses renamed columns), so ONE
    // physical-name map serves both, and from-side partition columns
    // route through the same alignment instead of passing raw.
    val toByPhys = (ManifestIndex.activeSchema(mt.dataSchema) ++
      mt.partitionSchema).map(f => ManifestIndex.physicalName(f) -> f).toMap
    val fromAligned = ManifestIndex.dataFrame(spark, root, mf, Some(changed))
      .select(
        (ManifestIndex.activeSchema(mf.dataSchema) ++ mf.partitionSchema)
          .flatMap(f =>
          toByPhys.get(ManifestIndex.physicalName(f)).map { tf =>
            // a widenColumn between the versions leaves the from-side
            // narrow; cast UP so the null-safe struct compare sees one
            // type (lossless — any other mismatch keeps both types and
            // fails loudly in the diff, as it should)
            val c = col(s"`${f.name}`")
            (if (tf.dataType != f.dataType &&
                 ManifestIndex.isWidening(f.dataType, tf.dataType))
               c.cast(tf.dataType)
             else c).as(tf.name)
          }): _*)
    diff(fromAligned,
      ManifestIndex.dataFrame(spark, root, mt, Some(changed)), keys)
  }

  /** Full-outer diff of two same-keyed DataFrames; see [[changeFeed]]. */
  private[graft] def diff(from: DataFrame, to: DataFrame,
                          keys: Seq[String]): DataFrame = {
    val extra = to.columns.filterNot(from.columns.contains)
    val cols = from.columns.toSeq ++ extra
    val types = (from.schema ++ to.schema).map(f => f.name -> f.dataType).toMap
    from.schema.foreach(f => to.schema.find(_.name == f.name).foreach(g =>
      require(g.dataType == f.dataType,
        s"changeFeed: column ${f.name} changed type ${f.dataType} -> ${g.dataType}")))
    require(keys.forall(cols.contains), s"changeFeed: keys $keys not all present")
    val nonKey = cols.filterNot(keys.contains)
    // __present anchors the struct when nonKey is empty and distinguishes
    // "row absent" (null struct) from "all payload fields null".
    def side(df: DataFrame, tag: String) = {
      val have = df.columns.toSet
      val payload = (lit(true).as("__present") +: nonKey.map(c =>
        (if (have(c)) col(c) else lit(null).cast(types(c))).as(c))): Seq[Column]
      df.select(keys.map(col) :+ struct(payload: _*).as(tag): _*)
    }
    val pre = col("__a")
    val post = col("__b")
    val events = when(pre.isNull,
        array(struct(lit("insert").as("t"), post.as("p"))))
      .when(post.isNull, array(struct(lit("delete").as("t"), pre.as("p"))))
      .otherwise(array(struct(lit("update_pre").as("t"), pre.as("p")),
        struct(lit("update_post").as("t"), post.as("p"))))
    side(from, "__a").join(side(to, "__b"), keys, "full_outer")
      .filter(!(pre <=> post))
      .select(keys.map(col) :+ explode(events).as("__e"): _*)
      .select(keys.map(col) ++
        nonKey.map(c => col("__e").getField("p").getField(c).as(c)) :+
        col("__e").getField("t").as("_change_type"): _*)
  }

  /** DEEP clone (S81): a SELF-CONTAINED copy of one version of a manifest
    * root — the backup/migration sibling of [[cloneVersion]]'s shallow
    * manifest clone, whose entries keep pointing into the source (a
    * source vacuum can invalidate it). Here the snapshot's LIVE rows
    * rewrite into the clone's own v00000 — deletion vectors materialize
    * away, column mapping collapses to the live logical schema with fresh
    * physical identities — and the table's DECLARED STATE carries
    * wholesale: CHECK and UNIQUE constraints, NOT NULL / DEFAULT /
    * GENERATED markers, the identity high-water (generated ids continue
    * above it — no replay collision on the clone), txn and ingest ledgers
    * (a streaming producer or COPY INTO source resuming against the clone
    * stays exactly-once), bloom and cluster declarations — all as they
    * stood at the cloned version. After this, nothing the source does —
    * vacuum, drop, rewrite — can touch the clone.
    *
    * What deliberately does NOT carry: version HISTORY (a backup of one
    * snapshot, not the timeline) and dropped-column tombstones (the clone
    * rewrites data, so no old footer exists to resurrect a name from).
    *
    * Cost: one full write of the LIVE rows (the honest minimum for
    * self-containment) + O(1) metadata. The init write itself is not
    * z-placed: the carried clustering places subsequent writes, and
    * OPTIMIZE re-clusters.
    */
  def deepClone(spark: SparkSession, root: String, newRoot: String,
                version: Option[Int] = None): String = graft.util.DmlTimer.timed {
    require(!isVersionedRoot(spark, newRoot),
      s"deepClone: $newRoot is already a versioned root")
    val v = version.getOrElse(currentVersionNumber(spark, root))
    val man = ManifestIndex.read(spark, root, versionName(v))
    val snap = readVersion(spark, root, v)
    // declared state carries WHOLESALE: every marker family lives in the
    // manifest properties, so one copy moves constraints, markers,
    // identity high-water, both ledgers and the bloom and cluster
    // declarations together (a field-by-field copy would silently drop
    // the next marker family added). The carry rides the v00000 commit
    // itself — the clone root is never observable with a missing or
    // propertyless manifest (ADVICE r14: the old delete-then-rewrite left
    // a crash window whose half-clone refused both reads and retries)
    initVersionedManifest(snap, newRoot,
      man.partitionSchema.fieldNames.toSeq, initProperties = Some(man.properties))
  }

  /** Zero-copy (SHALLOW) clone: materialize `version` of `root` as version
    * 0 of a NEW versioned root whose manifest entries point (absolutely)
    * into the source — zero data ops even on object stores. The
    * dev-branch shape: experiment with merges/deletes/compaction on the
    * clone while the source stays untouched, at metadata cost even for a
    * 100 TB table. The bytes stay owned by the SOURCE: vacuuming the
    * source can invalidate the clone until [[rehomeClone]] (or a
    * compaction) rewrites the referenced leaves into the clone's own root;
    * [[deepClone]] is the self-contained copy.
    */
  def cloneVersion(spark: SparkSession, root: String, version: Int,
                   newRoot: String): String = graft.util.DmlTimer.timed {
    val m = ManifestIndex.read(spark, root, versionName(version))
    require(!isVersionedRoot(spark, newRoot),
      s"cloneVersion: $newRoot is already a versioned root")
    def absolutize(p: String) =
      if (p.startsWith("/") || p.contains("://")) p else s"$root/$p"
    val abs = m.copy(entries = m.entries.map(e => e.copy(
      path = absolutize(e.path),
      dv = e.dv.map(d => d.copy(path = absolutize(d.path))))))
    val v0 = versionName(0)
    fsOf(spark, newRoot).mkdirs(new Path(newRoot, v0))
    ManifestIndex.write(spark, newRoot, v0, abs)
    writePointer(spark, newRoot, v0)
    s"$newRoot/$v0"
  }

  /** Version log of a versioned root (the `DESCRIBE HISTORY` surface):
    * one row per retained committed manifest with its file count, total
    * bytes, commit instant (the manifest's own mtime), whether `_current`
    * points at it, and the operation that produced it. Manifests AHEAD of
    * the pointer are in-flight or crashed claims, not history — the ledger
    * shows no phantom versions (review fix, same boundary as
    * versionAsOf/vacuum). Driver-side metadata only — O(#versions), no
    * data read; built as a LocalRelation so it composes with any query.
    */
  def history(spark: SparkSession, root: String): DataFrame = {
    import scala.jdk.CollectionConverters._
    val rootPath = new Path(root)
    val fs = rootPath.getFileSystem(spark.sparkContext.hadoopConfiguration)
    val curN = currentVersionNumber(spark, root)
    val rows = fs.listStatus(rootPath).filter(_.isFile)
      .filter(_.getPath.getName.matches("v\\d{5}\\.manifest"))
      .filter(_.getPath.getName.stripSuffix(".manifest")
        .substring(1).toInt <= curN)
      .sortBy(_.getPath.getName)
      .map { st =>
        val v = st.getPath.getName.stripSuffix(".manifest")
        val m = ManifestIndex.read(spark, root, v)
        org.apache.spark.sql.Row(v.substring(1).toInt,
          m.entries.length.toLong, m.entries.map(_.size).sum,
          new java.sql.Timestamp(st.getModificationTime),
          v.substring(1).toInt == curN,
          m.properties.get(ManifestIndex.OperationKey).orNull)
      }
    spark.createDataFrame(rows.toSeq.asJava,
      org.apache.spark.sql.types.StructType(Seq(
        org.apache.spark.sql.types.StructField("version",
          org.apache.spark.sql.types.IntegerType, nullable = false),
        org.apache.spark.sql.types.StructField("n_files",
          org.apache.spark.sql.types.LongType, nullable = false),
        org.apache.spark.sql.types.StructField("bytes",
          org.apache.spark.sql.types.LongType, nullable = false),
        org.apache.spark.sql.types.StructField("modified",
          org.apache.spark.sql.types.TimestampType, nullable = false),
        org.apache.spark.sql.types.StructField("is_current",
          org.apache.spark.sql.types.BooleanType, nullable = false),
        org.apache.spark.sql.types.StructField("operation",
          org.apache.spark.sql.types.StringType, nullable = true))))
  }

  /** Delete all versions except the newest `keep` (the live one is always
    * within the newest `keep` ≥ 1). Run this on a schedule with a grace
    * period, not inline with the flip — an in-flight reader may still be
    * scanning an old version. Like [[vacuumRetain]] and [[vacuumPlan]]
    * (which `VACUUM` lowers onto), an operational entry point a scheduled
    * job or an operator calls by hand.
    */
  def vacuumVersions(spark: SparkSession, root: String, keep: Int = 2): Int =
    vacuumRetain(spark, root, Retention.Versions(keep))

  /** Vacuum under `ret`. A version dir can hold files still REFERENCED by
    * newer manifests (carry-forward points backward), so vacuuming version
    * N deletes N's manifest and claim tombstone and then only the files
    * under `root/vNNNNN/` that no retained manifest references — a carried
    * data file OUTLIVES its origin version dir, and the dir itself goes
    * only when emptied.
    *
    * @return number of versions vacuumed
    */
  def vacuumRetain(spark: SparkSession, root: String,
                   ret: Retention): Int = graft.util.DmlTimer.timed {
    val rootPath = new Path(root)
    val fs = rootPath.getFileSystem(spark.sparkContext.hadoopConfiguration)
    val (doomed, kept) = vacuumSplit(spark, fs, root, ret)
    val keptManifests = kept.map(v => ManifestIndex.read(spark, root, v))
    val (referenced, dvDirs) = liveRefs(keptManifests)
    // depth-first sweep: delete unreferenced data files and all hidden
    // files; a dir empties => delete it; any referenced survivor keeps its
    // ancestor chain alive
    def sweep(p: Path, rel: String): Boolean = {
      var empty = true
      fs.listStatus(p).foreach { st =>
        val n = st.getPath.getName
        val childRel = if (rel.isEmpty) n else s"$rel/$n"
        val live = referenced.contains(childRel) ||
          dvDirs.exists(childRel.startsWith)
        if (st.isDirectory) {
          if (sweep(st.getPath, childRel)) fs.delete(st.getPath, false)
          else empty = false
        } else if (!live && (n.startsWith("_") || n.startsWith(".") ||
          !referenced.contains(childRel))) fs.delete(st.getPath, false)
        else empty = false
      }
      empty
    }
    doomed.foreach { v =>
      fs.delete(ManifestIndex.manifestPath(root, v), false)
      fs.delete(new Path(root, s"$v.claim"), false)
    }
    // Sweep EVERY manifest-less version dir behind the newest retained
    // manifest — not just this call's doomed set. A file carried out of a
    // previously-vacuumed dir stays alive while any retained manifest
    // references it, and that dir must be revisited on the vacuum AFTER the
    // last reference drops or the file (data or DV sidecar) leaks forever.
    // Dirs AHEAD of the newest manifest belong to in-flight writers
    // (claimed, not yet committed) and are never touched here — crashed
    // ones are [[recoverStaleClaims]]' job.
    val maxKept = kept.lastOption.map(_.substring(1).toInt).getOrElse(-1)
    fs.listStatus(rootPath).filter(_.isDirectory)
      .map(_.getPath.getName)
      .filter(n => n.matches("v\\d{5}") && n.substring(1).toInt < maxKept &&
        !kept.contains(n))
      .foreach { v =>
        val vdir = new Path(root, v)
        if (sweep(vdir, v)) fs.delete(vdir, false)
      }
    doomed.length
  }

  /** Vacuum retention policy: keep the newest `n` VERSIONS, or keep the
    * wall-clock window needed to serve `timestampAsOf` reads over the
    * last `n` HOURS — every commit whose instant falls inside the window
    * PLUS the newest commit at-or-before the horizon (the table STATE as
    * of the horizon itself stays travelable — dropping that anchor would
    * break `timestampAsOf(now − n·1h)` even though it names a time inside
    * the advertised window; the Delta `RETAIN n HOURS` semantics). Commit
    * instants are the manifest mtimes — the same clock `timestampAsOf`
    * resolution reads, so retention and travel can never disagree. Under
    * the hours policy an in-flight reader of an out-of-window snapshot is
    * safe only if `n` exceeds the longest running read.
    */
  sealed trait Retention
  object Retention {
    case class Versions(n: Int) extends Retention {
      require(n >= 1, "must keep at least the live version")
    }
    case class Hours(n: Double) extends Retention {
      require(n >= 0.0, s"RETAIN hours must be >= 0, got $n")
    }
  }

  /** The retention split both [[vacuumRetain]] and [[vacuumPlan]] use:
    * only manifests AT OR BEHIND the live pointer participate (a crashed
    * writer's manifest ahead of the pointer is recoverStaleClaims' job —
    * counting it once pushed the LIVE manifest into the doomed set and
    * bricked the table: review fix), and of the committed ones the policy
    * retains either the newest `n` or the `n`-hour travel window — the
    * pointer's own manifest always among them.
    */
  private def vacuumSplit(spark: SparkSession,
                          fs: org.apache.hadoop.fs.FileSystem, root: String,
                          ret: Retention): (Seq[String], Seq[String]) = {
    val curN = currentVersionNumber(spark, root)
    val versions = fs.listStatus(new Path(root)).map(_.getPath.getName)
      .filter(_.matches("v\\d{5}\\.manifest")).sorted
      .map(_.stripSuffix(".manifest"))
      .filter(_.substring(1).toInt <= curN)
    splitByRetention(versions.toSeq, ret,
      v => fs.getFileStatus(ManifestIndex.manifestPath(root, v))
        .getModificationTime)
  }

  /** Policy split over an ASCENDING version list; `mtime` is consulted
    * only for the hours policy. Returns (doomed, kept), both ascending.
    */
  private def splitByRetention(versions: Seq[String], ret: Retention,
                               mtime: String => Long)
      : (Seq[String], Seq[String]) = ret match {
    case Retention.Versions(keep) =>
      val (d, k) = versions.splitAt(math.max(0, versions.length - keep))
      (d, k)
    case Retention.Hours(h) =>
      val cutoff = System.currentTimeMillis() - (h * 3600 * 1000).toLong
      val ts = versions.map(v => v -> mtime(v))
      // the horizon anchor: the newest commit at-or-before the cutoff
      val anchor = ts.filter(_._2 <= cutoff).lastOption.map(_._1)
      val keptSet = (ts.filter(_._2 > cutoff).map(_._1) ++ anchor).toSet
      // the live version (newest) is always within the window or IS the
      // anchor, so keptSet is never empty for a non-empty list
      (versions.filterNot(keptSet), versions.filter(keptSet))
  }

  /** Root-relative paths a set of retained manifests keeps alive: data
    * files by exact path, DV sidecars as directory prefixes (any file
    * under a referenced sidecar dir is live — a carried DV outlives its
    * origin version dir exactly like a carried data file).
    */
  private def liveRefs(kept: Seq[ManifestIndex.TableManifest])
      : (Set[String], Seq[String]) = {
    val relative = (p: String) => !p.startsWith("/") && !p.contains("://")
    (kept.flatMap(_.entries.map(_.path).filter(relative)).toSet,
      kept.flatMap(_.entries.flatMap(_.dv.map(_.path).filter(relative)))
        .distinct.map(_ + "/"))
  }

  /** DRY-RUN of [[vacuumVersions]] on a MANIFEST root: one row per file
    * the real vacuum WOULD delete — `(path, bytes, kind)` with kind ∈
    * {manifest, data, sidecar, hidden} — so retention changes can be
    * priced (and reviewed) before anything is destroyed, the way every
    * production VACUUM ships. Same reference-counting as the real sweep:
    * a file is doomed only if NO retained manifest references it (data by
    * exact path, sidecars by directory). O(#files) driver metadata, zero
    * data read, nothing touched.
    */
  def vacuumPlan(spark: SparkSession, root: String, keep: Int = 2): DataFrame =
    vacuumPlan(spark, root, Retention.Versions(keep))

  def vacuumPlan(spark: SparkSession, root: String,
                 ret: Retention): DataFrame = {
    import scala.jdk.CollectionConverters._
    val rootPath = new Path(root)
    val fs = rootPath.getFileSystem(spark.sparkContext.hadoopConfiguration)
    val (doomed, kept) = vacuumSplit(spark, fs, root, ret)
    val (referenced, dvDirs) =
      liveRefs(kept.map(v => ManifestIndex.read(spark, root, v)))
    val out = scala.collection.mutable.ArrayBuffer.empty[org.apache.spark.sql.Row]
    doomed.foreach { v =>
      val mp = ManifestIndex.manifestPath(root, v)
      out += org.apache.spark.sql.Row(s"$v.manifest", fs.getFileStatus(mp).getLen,
        "manifest")
      val claim = new Path(root, s"$v.claim")
      if (fs.exists(claim))
        out += org.apache.spark.sql.Row(s"$v.claim",
          fs.getFileStatus(claim).getLen, "manifest")
    }
    def walk(p: Path, rel: String): Unit =
      fs.listStatus(p).foreach { st =>
        val n = st.getPath.getName
        val childRel = if (rel.isEmpty) n else s"$rel/$n"
        if (st.isDirectory) walk(st.getPath, childRel)
        else if (!referenced.contains(childRel) &&
          !dvDirs.exists(childRel.startsWith))
          out += org.apache.spark.sql.Row(childRel, st.getLen,
            if (childRel.contains("/_dv/")) "sidecar"
            else if (n.startsWith("_") || n.startsWith(".")) "hidden"
            else "data")
      }
    val maxKept = kept.lastOption.map(_.substring(1).toInt).getOrElse(-1)
    fs.listStatus(rootPath).filter(_.isDirectory)
      .map(_.getPath.getName)
      .filter(n => n.matches("v\\d{5}") && n.substring(1).toInt < maxKept &&
        !kept.contains(n))
      .sorted
      .foreach(v => walk(new Path(root, v), v))
    spark.createDataFrame(out.asJava, org.apache.spark.sql.types.StructType(Seq(
      org.apache.spark.sql.types.StructField("path",
        org.apache.spark.sql.types.StringType, false),
      org.apache.spark.sql.types.StructField("bytes",
        org.apache.spark.sql.types.LongType, false),
      org.apache.spark.sql.types.StructField("kind",
        org.apache.spark.sql.types.StringType, false))))
  }

  /** Recover from a writer that CRASHED between claiming a version and
    * flipping the pointer: its claim file (and any partial version dir)
    * blocks every future writer — by design, since an in-flight writer is
    * indistinguishable from a crashed one without a lease. This sweeps
    * claims AHEAD of the committed pointer older than `olderThanMs` (the
    * lease): run it like [[vacuumVersions]], with a horizon longer than
    * any legitimate commit takes. Claims at or behind the pointer are
    * commit tombstones and are never touched here.
    *
    * An operational entry point: no query or SQL statement calls it; an
    * operator runs it by hand after a writer crash.
    *
    * @return number of stale claims recovered
    */
  def recoverStaleClaims(spark: SparkSession, root: String,
                         olderThanMs: Long): Int = {
    val rootPath = new Path(root)
    val fs = rootPath.getFileSystem(spark.sparkContext.hadoopConfiguration)
    val committed = resolveCurrent(spark, root)
    val curN = committed.substring(committed.lastIndexOf("/v") + 2).toInt
    val now = System.currentTimeMillis()
    val stale = fs.listStatus(rootPath).filter { st =>
      val n = st.getPath.getName
      st.isFile && n.matches("v\\d{5}\\.claim") &&
        n.substring(1, 6).toInt > curN &&
        now - st.getModificationTime >= olderThanMs
    }
    stale.foreach { st =>
      val version = st.getPath.getName.stripSuffix(".claim")
      fs.delete(new Path(root, version), true) // partial dir, if any
      // a writer that crashed between manifest commit and pointer flip
      // leaves an orphaned (or torn .tmp) manifest
      fs.delete(ManifestIndex.manifestPath(root, version), false)
      fs.delete(new Path(root, s"$version.manifest.tmp"), false)
      fs.delete(st.getPath, false)
    }
    stale.length
  }
}
