package graft.model

import org.apache.spark.sql.{Column, DataFrame, Row, SparkSession}
import org.apache.spark.sql.functions._

import graft.sources.{Layout, ManifestIndex}

/** Persisted ANN index artifacts — the build-once / probe-many split the
  * in-plan ANN queries (q160/q161/q167/q178/q190 train or seed codebooks
  * inside the query) deliberately defer: at 100 TB, codebook/centroid
  * training is an offline job measured in hours, and SERVING must read a
  * published artifact, never re-derive it. This module stores every half
  * of the compression ladder in the versioned layout
  * ([[Layout.publishVersion]] — the same atomic snapshot-publish primitive
  * the incremental views commit through), so an index retrain is just the
  * next version: time-travelable, crash-safe (pointer flips after data +
  * metadata land), and vacuumable.
  *
  *  - CODEBOOKS: m×k centroid rows `(subspace, centroid, center)` plus
  *    their metadata (shape, caller extras) in the published version's
  *    manifest properties — bounded driver metadata by contract (m·k
  *    rows at any corpus size, the
  *    [[graft.ops.Pca.topDirection]] class), so serving loads them with
  *    one bounded collect and inlines them as plan literals — the exact
  *    shape the q160-family oracles replay.
  *  - ROTATION (OPQ, r17): the d×d orthogonal matrix as `(row_idx, vals)`
  *    rows — d bounded rows, same collect-and-inline contract.
  *  - SQ8 BOUNDS (r17): per-dimension `(dim_idx, mn, mx)` — d rows.
  *  - CODES: the encoded corpus `(id, code)` — m small ints per vector
  *    instead of d floats. Publishing the codes table is what makes
  *    serving corpus-float-free: the probe plan scans ONLY this table
  *    (AnnArtifactSpec pins the read schema), the original embedding
  *    column never appears.
  *
  * VERSION-SKEW REFUSAL (r17): every codes publish records which
  * books/rotation/bounds version encoded it (published roots: the
  * publish metadata, [[readMeta]]; cell-partitioned roots: `ann.*`
  * properties, carried through every commit), and every serve path
  * REFUSES to score codes against a different artifact version — a stale
  * codes table silently served against retrained books would return
  * plausible-but-wrong neighbors with no error anywhere.
  *
  * Reference analog: the staging-table pattern
  * (/root/reference/loading.py:143-151) — materialize the expensive
  * intermediate once, serve many reads from it.
  */
object AnnIndex {

  /** The published metadata of `root`'s LIVE version ([[Layout.publishVersion]]'s
    * `meta`, read back from the manifest properties). This is the metadata
    * channel serve paths enforce the version-skew contract through.
    */
  def readMeta(spark: SparkSession, root: String): Map[String, String] = {
    val meta = liveProps(spark, root, ManifestIndex.PublishPrefix)
    require(meta.nonEmpty, s"readMeta: $root's live version records no " +
      "published metadata — not an AnnIndex artifact root")
    meta
  }

  /** Live-version manifest properties under `prefix`, prefix stripped —
    * `ann.*` is the metadata channel for cell-partitioned indexes
    * (properties ride every manifest commit, so append/replace retains
    * them).
    */
  private def liveProps(spark: SparkSession, root: String,
                        prefix: String): Map[String, String] =
    Layout.currentManifest(spark, root)._2.properties
      .collect { case (k, v) if k.startsWith(prefix) =>
        k.stripPrefix(prefix) -> v }

  private def requireVersion(meta: Map[String, String], key: String,
                             actual: Int, what: String,
                             artifact: String): Unit = {
    val stored = meta.getOrElse(key,
      throw new IllegalArgumentException(
        s"$what: codes metadata records no '$key' — refusing to serve an " +
          s"index whose $artifact lineage is unknown"))
    require(stored.toInt == actual,
      s"$what: VERSION SKEW — codes were encoded by $artifact version " +
        s"$stored but the $artifact root now serves version $actual; a " +
        s"retrained $artifact scores stale codes into plausible-but-wrong " +
        "neighbors. Re-encode the corpus (or pin the serve to the " +
        "matching artifact version).")
  }

  // ------------------------------------------------------------ codebooks

  /** Publish PQ codebooks as the next version of `root` (v0 when fresh).
    * Rows are `(subspace, centroid, center: array<double>)`; metadata
    * records the shape plus caller extras. Atomic: data + metadata land
    * before the pointer flip ([[Layout.publishVersion]]'s contract).
    *
    * @return the published version directory
    */
  def publishCodebooks(spark: SparkSession, root: String,
                       codebooks: Array[Array[Array[Double]]],
                       extraMeta: Map[String, String] = Map.empty): String = {
    require(codebooks.nonEmpty && codebooks.forall(_.nonEmpty),
      "publishCodebooks: empty codebook")
    val m = codebooks.length
    val k = codebooks(0).length
    val subDim = codebooks(0)(0).length
    require(codebooks.forall(b => b.length == k && b.forall(_.length == subDim)),
      "publishCodebooks: ragged codebook (every subspace needs k centroids " +
        "of one subDim)")
    import spark.implicits._
    val rows = for {
      (book, j) <- codebooks.zipWithIndex
      (cent, c) <- book.zipWithIndex
    } yield (j, c, cent.toSeq)
    val df = rows.toSeq.toDF("subspace", "centroid", "center")
    val meta = Map("kind" -> "pq_codebooks", "m" -> m.toString,
      "k" -> k.toString, "subDim" -> subDim.toString) ++ extraMeta
    Layout.publishVersion(spark, root, df, meta)
  }

  /** Load the LIVE codebook version back into the literal array form the
    * serving expressions inline. ONE bounded collect (m·k rows — driver
    * metadata by the publish contract); deterministic reassembly by
    * (subspace, centroid).
    */
  def loadCodebooks(spark: SparkSession, root: String): Array[Array[Array[Double]]] = {
    val rows = Layout.readCurrent(spark, root).select(
        col("subspace").cast("int"), col("centroid").cast("int"),
        col("center").cast("array<double>"))
      .collect()
    require(rows.nonEmpty, "loadCodebooks: empty codebook table")
    val m = rows.map(_.getInt(0)).max + 1
    val k = rows.map(_.getInt(1)).max + 1
    val out = Array.ofDim[Array[Double]](m, k)
    rows.foreach { r =>
      out(r.getInt(0))(r.getInt(1)) = r.getSeq[Double](2).toArray
    }
    require(out.forall(_.forall(_ != null)),
      "loadCodebooks: sparse codebook table — missing (subspace, centroid) cells")
    out
  }

  // ---------------------------------------------------- OPQ rotation (r17)

  /** Publish an OPQ rotation matrix ([[graft.ops.Quantize.seededRotation]]
    * — or any d×d orthogonal R) as the next version of `root`: d rows of
    * `(row_idx, vals: array<double>)` — bounded driver metadata, the same
    * contract as codebooks. Parquet doubles round-trip bit-exactly, so
    * the served rotation IS the trained one.
    */
  def publishRotation(spark: SparkSession, root: String,
                      rotation: Array[Array[Double]],
                      extraMeta: Map[String, String] = Map.empty): String = {
    val d = rotation.length
    require(d > 0 && rotation.forall(_.length == d),
      "publishRotation: rotation must be a square d×d matrix")
    import spark.implicits._
    val df = rotation.zipWithIndex
      .map { case (row, i) => (i, row.toSeq) }.toSeq
      .toDF("row_idx", "vals")
    val meta = Map("kind" -> "opq_rotation", "dim" -> d.toString) ++ extraMeta
    Layout.publishVersion(spark, root, df, meta)
  }

  /** Load the LIVE rotation back (ONE bounded collect of d rows). */
  def loadRotation(spark: SparkSession, root: String): Array[Array[Double]] = {
    val rows = Layout.readCurrent(spark, root)
      .select(col("row_idx").cast("int"), col("vals").cast("array<double>"))
      .collect()
    require(rows.nonEmpty, "loadRotation: empty rotation table")
    val d = rows.map(_.getInt(0)).max + 1
    val out = new Array[Array[Double]](d)
    rows.foreach(r => out(r.getInt(0)) = r.getSeq[Double](1).toArray)
    require(out.forall(v => v != null && v.length == d),
      "loadRotation: missing or ragged rotation rows")
    out
  }

  // ----------------------------------------------------- SQ8 bounds (r17)

  /** Publish SQ8 per-dimension bounds ([[graft.ops.Quantize.sqTrain]]'s
    * output) as the next version of `root`: d rows of
    * `(dim_idx, mn, mx)`. Bounded driver metadata (d rows).
    */
  def publishSqBounds(spark: SparkSession, root: String,
                      mins: Array[Double], maxs: Array[Double],
                      extraMeta: Map[String, String] = Map.empty): String = {
    require(mins.length == maxs.length && mins.nonEmpty,
      "publishSqBounds: mins/maxs must be same-length, non-empty")
    import spark.implicits._
    val df = mins.indices.map(i => (i, mins(i), maxs(i))).toDF(
      "dim_idx", "mn", "mx")
    val meta = Map("kind" -> "sq8_bounds",
      "dim" -> mins.length.toString) ++ extraMeta
    Layout.publishVersion(spark, root, df, meta)
  }

  /** Load the LIVE SQ8 bounds back (ONE bounded collect of d rows). */
  def loadSqBounds(spark: SparkSession,
                   root: String): (Array[Double], Array[Double]) = {
    val rows = Layout.readCurrent(spark, root)
      .select(col("dim_idx").cast("int"), col("mn").cast("double"),
        col("mx").cast("double"))
      .collect()
    require(rows.nonEmpty, "loadSqBounds: empty bounds table")
    val d = rows.map(_.getInt(0)).max + 1
    require(rows.length == d, "loadSqBounds: missing dimension rows")
    val mins = new Array[Double](d)
    val maxs = new Array[Double](d)
    rows.foreach { r =>
      mins(r.getInt(0)) = r.getDouble(1)
      maxs(r.getInt(0)) = r.getDouble(2)
    }
    (mins, maxs)
  }

  // ----------------------------------------------------------- flat codes

  /** Publish the ENCODED corpus `(idCol, code)` as the next version of
    * `root` — the float-free half of the index. Pass
    * [[graft.ops.Quantize.encode]]'s output projected to id + code;
    * `booksVersion` (which codebook version produced these codes) is
    * REQUIRED and recorded — [[serveAdcTopK]] refuses a books/codes skew.
    */
  def publishCodes(spark: SparkSession, root: String, coded: DataFrame,
                   idCol: String, booksVersion: Int,
                   extraMeta: Map[String, String] = Map.empty): String = {
    val df = coded.select(col(idCol), col("code"))
    val meta = Map("kind" -> "pq_codes",
      "books_version" -> booksVersion.toString) ++ extraMeta
    Layout.publishVersion(spark, root, df, meta)
  }

  /** Publish an SQ8-coded corpus `(idCol, code)`; `boundsVersion` is the
    * bounds version that scaled these codes — [[serveSqTopK]] refuses a
    * bounds/codes skew (stale codes against re-trained bounds dequantize
    * into the wrong envelope, silently shifting every score).
    */
  def publishSqCodes(spark: SparkSession, root: String, coded: DataFrame,
                     idCol: String, boundsVersion: Int,
                     extraMeta: Map[String, String] = Map.empty): String = {
    val df = coded.select(col(idCol), col("code"))
    val meta = Map("kind" -> "sq8_codes",
      "bounds_version" -> boundsVersion.toString) ++ extraMeta
    Layout.publishVersion(spark, root, df, meta)
  }

  // ------------------------------------------------ IVF centroids (r17)

  /** Publish the coarse-quantizer centroids as a VERSIONED artifact:
    * nlist rows of `(vec_id, embedding)` — the third leg of the IVF-PQ
    * lineage (books encode, centroids ROUTE; a retrained coarse
    * quantizer moves every cell boundary, so codes assigned under old
    * centroids served under new ones probe the wrong cells silently).
    * Serve and append paths load centroids from here and refuse a
    * centroids/codes version skew like every other artifact.
    */
  def publishCentroids(spark: SparkSession, root: String,
                       centroids: DataFrame,
                       extraMeta: Map[String, String] = Map.empty): String = {
    val df = centroids.select(col("vec_id"),
      col("embedding").cast("array<double>").as("embedding"))
    val meta = Map("kind" -> "ivf_centroids") ++ extraMeta
    Layout.publishVersion(spark, root, df, meta)
  }

  /** The LIVE centroid table back as a DataFrame (nlist rows — small,
    * but kept distributed: every consumer broadcasts it itself).
    */
  def loadCentroids(spark: SparkSession, root: String): DataFrame = {
    val meta = readMeta(spark, root)
    require(meta.get("kind").contains("ivf_centroids"),
      s"loadCentroids: $root is not an ivf_centroids artifact root " +
        s"(kind = ${meta.getOrElse("kind", "<absent>")})")
    Layout.readCurrent(spark, root).select(col("vec_id"), col("embedding"))
  }

  // --------------------------------------------- cell-partitioned IVF-PQ

  /** Publish the full IVF-PQ index layout: every corpus vector assigned
    * to its coarse cell ([[graft.ops.Similarity.ivfAssign]] — broadcast
    * centroids, the corpus never shuffles) and stored as
    * `(nn_id, centroid_id, code)` in a MANIFEST root PARTITIONED BY
    * `centroid_id` — so serving's probed-cells filter becomes partition
    * pruning and a query physically reads `nprobe/nlist` of the index,
    * the billion-scale layout's defining property. Retrain = wholesale
    * [[Layout.replaceVersionedRows]] into the same root (time-travelable
    * like every manifest commit); daily ingest = [[appendIvfPqCodes]]
    * (O(batch) written, one commit).
    *
    * The encoding lineage (books version, residual flag, optional OPQ
    * rotation version) is recorded as `ann.*` MANIFEST PROPERTIES —
    * carried through every subsequent commit — and the serve paths
    * refuse any skew against it.
    *
    * @return the published root (manifest v0)
    */
  def publishIvfPqCodes(spark: SparkSession, root: String,
                        corpus: DataFrame, centroids: DataFrame,
                        codebooks: Array[Array[Array[Double]]],
                        booksVersion: Int = 0,
                        residual: Boolean = false,
                        rotation: Option[Array[Array[Double]]] = None,
                        rotationVersion: Option[Int] = None,
                        centroidsVersion: Int = 0): String = {
    require(rotation.isEmpty || residual,
      "publishIvfPqCodes: OPQ rotation applies to residual coding")
    require(rotation.isDefined == rotationVersion.isDefined,
      "publishIvfPqCodes: rotation and rotationVersion go together")
    val coded = encodeForCells(corpus, centroids, codebooks, residual,
      rotation)
    val props = Map(
      "ann.kind" -> "ivfpq_codes",
      "ann.books_version" -> booksVersion.toString,
      "ann.centroids_version" -> centroidsVersion.toString,
      "ann.residual" -> residual.toString) ++
      rotationVersion.map(v => "ann.rotation_version" -> v.toString)
    Layout.initVersionedManifest(coded, root, Seq("centroid_id"), Nil,
      Some(props))
    root
  }

  /** Route + (rotate-)encode a corpus batch into `(nn_id, centroid_id,
    * code)` — shared by the wholesale publish and the incremental append
    * so the two can never drift (bit-for-bit ≡ is the append's contract).
    */
  private def encodeForCells(corpus: DataFrame, centroids: DataFrame,
                             codebooks: Array[Array[Array[Double]]],
                             residual: Boolean,
                             rotation: Option[Array[Array[Double]]]): DataFrame = {
    val assigned0 = graft.ops.Similarity.ivfAssign(corpus, centroids)
      .select(col("vec_id").as("nn_id"),
        col("embedding").cast("array<double>").as("__e"),
        col("centroid_id"))
    // residual mode codes v − c(cell) (true IVFADC, Jégou §V.A) — the
    // same branch ivfServe takes; the SERVE side reads the stored flag
    // back (q167's coarse q·c term re-enters there). OPQ additionally
    // rotates the residual before coding (Ge 2013) — (R·q)·(R·res) =
    // q·res keeps the scoring decomposition exact.
    val assigned =
      if (!residual) assigned0.withColumn("__in", col("__e"))
      else {
        val centVecs = centroids.select(col("vec_id").as("centroid_id"),
          col("embedding").cast("array<double>").as("__ce"))
        val res = assigned0.join(broadcast(centVecs), "centroid_id")
          .withColumn("__res",
            zip_with(col("__e"), col("__ce"), (a, b) => a - b))
        rotation.fold(res.withColumn("__in", col("__res")))(r =>
          res.withColumn("__in", graft.ops.Quantize.rotate(col("__res"), r)))
      }
    graft.ops.Quantize.encode(assigned, "__in", codebooks)
      .select(col("nn_id"), col("centroid_id"), col("code"))
  }

  /** INCREMENTAL index maintenance (r17): encode a fresh batch with the
    * LIVE artifacts and append it into the cell-partitioned codes root —
    * ONE manifest commit, O(batch) bytes written, every existing cell
    * file carried forward untouched. This is the daily-ingest loop's
    * index half (compose with [[graft.ops.MinHashDedup.incrementalNew]]'s
    * bloom-gated dedup for the dedup-then-index pipeline): a 100 TB index
    * never rebuilds for a 100 GB day.
    *
    * The append REFUSES a books (and rotation) version skew — if the
    * books retrained since the index was built, appending fresh-books
    * codes into stale-books cells would silently mix two incompatible
    * codeword spaces. Content is bit-for-bit what a wholesale rebuild
    * over (old ∪ batch) would store (AnnArtifactSpec pins it): encoding
    * is per-row, so append-vs-rebuild cannot diverge.
    *
    * @return the new live version path
    */
  def appendIvfPqCodes(spark: SparkSession, codesRoot: String,
                       booksRoot: String, centroidsRoot: String,
                       batch: DataFrame,
                       rotationRoot: Option[String] = None): String = {
    val meta = liveProps(spark, codesRoot, "ann.")
    requireVersion(meta, "books_version",
      Layout.currentVersionNumber(spark, booksRoot),
      "appendIvfPqCodes", "codebook")
    requireVersion(meta, "centroids_version",
      Layout.currentVersionNumber(spark, centroidsRoot),
      "appendIvfPqCodes", "centroids")
    val centroids = loadCentroids(spark, centroidsRoot)
    val residual = meta.getOrElse("residual", "false").toBoolean
    val rotation = meta.get("rotation_version").map { rv =>
      val root = rotationRoot.getOrElse(throw new IllegalArgumentException(
        "appendIvfPqCodes: this index was built with an OPQ rotation " +
          s"(version $rv) — pass rotationRoot"))
      requireVersion(meta, "rotation_version",
        Layout.currentVersionNumber(spark, root),
        "appendIvfPqCodes", "rotation")
      loadRotation(spark, root)
    }
    val books = loadCodebooks(spark, booksRoot)
    val coded = encodeForCells(batch, centroids, books, residual, rotation)
    Layout.appendVersionedRows(spark, codesRoot, coded)
  }

  // ------------------------------------------------------------- serving

  /** SERVE IVF-PQ top-k from the published artifacts — the probe-many
    * half of [[publishIvfPqCodes]]: queries route to their `nprobe`
    * nearest cells (broadcast centroids, the q161 argmin/tie discipline
    * exactly), the PROBED CELL SET — bounded at |queries|·nprobe,
    * driver metadata by contract — collects once and pushes down as a
    * static `centroid_id IN (…)` filter, so the manifest reader PRUNES
    * every unprobed cell's files before any IO; ADC then scores only
    * the surviving codes. Zero corpus floats, zero assignment or
    * training scans at serve time (AnnArtifactSpec pins the plan);
    * results ≡ [[graft.ops.Quantize.ivfPqTopK]] bit-for-bit.
    *
    * REFUSES (r17): a books/codes version skew; a `residual` flag that
    * contradicts what the index recorded at build time (pre-r17 this was
    * only a visible score shift); and an OPQ-rotated index (those must
    * serve through [[serveIvfPqOpqTopK]], which checks the rotation
    * lineage too).
    *
    * @return (query_id, nn_id, centroid_id, score [ADC, 6dp], rnk)
    */
  def serveIvfPqTopK(spark: SparkSession, codesRoot: String,
                     booksRoot: String, centroidsRoot: String,
                     queries: DataFrame, nprobe: Int, topK: Int,
                     residual: Boolean = false): DataFrame = {
    val meta = checkIvfMeta(spark, codesRoot, booksRoot, centroidsRoot,
      residual, "serveIvfPqTopK")
    require(!meta.contains("rotation_version"),
      "serveIvfPqTopK: this index stores OPQ-ROTATED residual codes — " +
        "serve it through serveIvfPqOpqTopK (scoring unrotated queries " +
        "against rotated codes is silently wrong)")
    ivfServeArtifact(spark, codesRoot, booksRoot,
      loadCentroids(spark, centroidsRoot), queries,
      nprobe, topK, residual, rotation = None)
  }

  /** SERVE an OPQ (rotated-residual) IVF-PQ index from its three
    * artifacts: codes (cell-partitioned manifest root), books, and the
    * rotation. Queries rotate plan-side (d literal dots on the broadcast
    * side — per-query, not per-corpus-row); the coarse q·c term uses the
    * UNROTATED query exactly as [[graft.ops.Quantize.ivfPqOpqTopK]] does,
    * and results ≡ it bit-for-bit. Refuses books AND rotation skews.
    *
    * @return (query_id, nn_id, centroid_id, score [q·c + ADC, 6dp], rnk)
    */
  def serveIvfPqOpqTopK(spark: SparkSession, codesRoot: String,
                        booksRoot: String, rotationRoot: String,
                        centroidsRoot: String, queries: DataFrame,
                        nprobe: Int, topK: Int): DataFrame = {
    val meta = checkIvfMeta(spark, codesRoot, booksRoot, centroidsRoot,
      residual = true, "serveIvfPqOpqTopK")
    requireVersion(meta, "rotation_version",
      Layout.currentVersionNumber(spark, rotationRoot),
      "serveIvfPqOpqTopK", "rotation")
    val rotation = loadRotation(spark, rotationRoot)
    ivfServeArtifact(spark, codesRoot, booksRoot,
      loadCentroids(spark, centroidsRoot), queries,
      nprobe, topK, residual = true, rotation = Some(rotation))
  }

  /** TWO-STAGE exact-refine serving (r17): stage 1 ranks the index's ADC
    * scores to `topK·refine` candidates per query (the cell-pruned,
    * float-free plan of [[serveIvfPqTopK]]); stage 2 reads ONLY those
    * candidate rows from the float corpus — the candidate pairs are
    * bounded at |queries|·topK·refine (driver metadata by the tiny-query
    * contract), collected once, and their ids pushed down as a static
    * `id IN (…)` filter, so parquet stats skip every other row group —
    * and reranks them by EXACT inner product. The standard recall lift of
    * quantized ANN at a bounded extra IO of k·refine float rows per
    * query; recall(refined) ≥ recall(ADC) whenever the true neighbor
    * ADC-ranks within the refine window (AnnArtifactSpec pins it on a
    * clustered corpus).
    *
    * @return (query_id, nn_id, score [EXACT dot, 6dp], rnk) — rnk ≤ topK
    */
  def serveIvfPqTopKRefined(spark: SparkSession, codesRoot: String,
                            booksRoot: String, centroidsRoot: String,
                            corpus: DataFrame, idCol: String, vecCol: String,
                            queries: DataFrame, nprobe: Int, topK: Int,
                            refine: Int,
                            residual: Boolean = false): DataFrame = {
    require(refine >= 1, "serveIvfPqTopKRefined: refine must be ≥ 1")
    val meta = checkIvfMeta(spark, codesRoot, booksRoot, centroidsRoot,
      residual, "serveIvfPqTopKRefined")
    require(!meta.contains("rotation_version"),
      "serveIvfPqTopKRefined: OPQ indexes refine through their own " +
        "candidates — serve stage 1 with serveIvfPqOpqTopK semantics")
    val candidates = ivfServeArtifact(spark, codesRoot, booksRoot,
      loadCentroids(spark, centroidsRoot), queries, nprobe, topK * refine,
      residual, rotation = None)
      .select(col("query_id"), col("nn_id"))
    // stage 1 (ivfServeArtifact) requires the (vec_id, embedding) query
    // convention, so stage 2 reads the same columns
    exactRefine(candidates, corpus, idCol, vecCol, queries,
      "vec_id", "embedding", topK)
  }

  /** [[serveIvfPqTopKRefined]] for the FLAT ADC artifact path (r17): the
    * same two-stage recall lift over a [[publishCodes]] index — stage 1
    * ADC-ranks the whole codes table to k·refine candidates (float-free),
    * stage 2 exact-reranks only the candidate rows. Same skew gates as
    * [[serveAdcTopK]] (it IS stage 1).
    */
  def serveAdcTopKRefined(spark: SparkSession, booksRoot: String,
                          codesRoot: String, corpus: DataFrame,
                          idCol: String, vecCol: String, queries: DataFrame,
                          topK: Int, refine: Int): DataFrame = {
    require(refine >= 1, "serveAdcTopKRefined: refine must be ≥ 1")
    val candidates = serveAdcTopK(spark, booksRoot, codesRoot, queries,
      idCol, vecCol, topK * refine)
      .select(col("query_id"), col("nn_id"))
    // stage 1 applied idCol/vecCol to the queries frame too — stage 2
    // reads the same names (ADVICE r17)
    exactRefine(candidates, corpus, idCol, vecCol, queries, idCol, vecCol,
      topK)
  }

  /** [[serveAdcTopKRefined]] for the SQ8 artifact path (r17): stage 1
    * ranks dequantized-code scores to k·refine candidates (¼ of the
    * float bytes, bounds-skew-gated — it IS [[serveSqTopK]]), stage 2
    * exact-reranks only the candidate rows. Completes the refine tier
    * across every quantized layout (flat PQ, IVF-PQ, SQ8).
    */
  def serveSqTopKRefined(spark: SparkSession, boundsRoot: String,
                         codesRoot: String, corpus: DataFrame,
                         idCol: String, vecCol: String, queries: DataFrame,
                         topK: Int, refine: Int): DataFrame = {
    require(refine >= 1, "serveSqTopKRefined: refine must be ≥ 1")
    val candidates = serveSqTopK(spark, boundsRoot, codesRoot, queries,
      idCol, vecCol, topK * refine)
      .select(col("query_id"), col("nn_id"))
    // stage 1 applied idCol/vecCol to the queries frame too — stage 2
    // reads the same names (ADVICE r17)
    exactRefine(candidates, corpus, idCol, vecCol, queries, idCol, vecCol,
      topK)
  }

  /** Publish the FLOAT corpus as the stage-2 refine target (r18): a
    * manifest root, range-clustered into `files` files on `idCol` and
    * with per-file `idCol` BLOOMS declared — so [[exactRefine]]'s static
    * candidate `IN (…)` pushdown becomes FILE-level point-lookup pruning
    * in the manifest reader (min/max envelopes prune by the range
    * clustering, blooms prune the in-range non-members), and a refine
    * touches O(candidate files), not every row group of the corpus.
    * Pass [[graft.sources.Layout.readCurrent]] of this root as the
    * `corpus` argument of any Refined serve. AnnArtifactSpec pins the
    * planned-file drop against a raw-parquet twin.
    */
  def publishRefineCorpus(spark: SparkSession, root: String,
                          corpus: DataFrame, idCol: String, vecCol: String,
                          files: Int): String = {
    require(files >= 1, "publishRefineCorpus: files must be ≥ 1")
    // __slab is a PHYSICAL tag (one id-range chunk per file), not a
    // semantic column: manifest roots are partitioned by contract, and
    // the slab dir gives each range chunk its own file so the per-FILE
    // min/max + bloom envelopes have one contiguous id range each — the
    // grain the candidate-IN skipping works at
    Layout.initVersionedManifest(
      corpus.select(col(idCol), col(vecCol))
        .repartitionByRange(files, col(idCol))
        .withColumn("__slab", spark_partition_id()),
      root, Seq("__slab"), Seq(idCol))
    root
  }

  /** The shared stage-2 exact rerank: evaluate stage 1 ONCE by collecting
    * the BOUNDED candidate pairs (|queries|·topK·refine — driver metadata
    * by the tiny-query contract), push their ids down as a static `IN`
    * filter on the float corpus (parquet stats skip every other row group
    * — AnnArtifactSpec pins the filter on the executed plan), join the
    * same collected pairs broadcast-side, and rerank by EXACT inner
    * product. The query frame's id/vector columns are THREADED from the
    * caller (ADVICE r17: they were hard-coded vec_id/embedding while stage
    * 1 honored the caller's names — a non-default caller passed stage 1
    * and broke, or silently misread, stage 2).
    */
  private def exactRefine(candidates: DataFrame, corpus: DataFrame,
                          idCol: String, vecCol: String,
                          queries: DataFrame, queryIdCol: String,
                          queryVecCol: String, topK: Int): DataFrame = {
    import graft.functions.{VectorFunctions => VF}
    val (pairs, cands) = evalOnce(candidates)
    val ids = pairs.map(_.getAs[Any]("nn_id")).distinct
    val floats = corpus
      .filter(col(idCol).isin(ids: _*))
      .select(col(idCol).as("nn_id"),
        col(vecCol).cast("array<double>").as("__ve"))
    val q = queries.select(col(queryIdCol).as("query_id"),
      col(queryVecCol).cast("array<double>").as("__qe"))
    val wK = org.apache.spark.sql.expressions.Window
      .partitionBy("query_id").orderBy(col("__s").desc, col("nn_id"))
    floats.join(broadcast(cands.join(q, "query_id")), "nn_id")
      .withColumn("__s", VF.dot(col("__qe"), col("__ve")))
      .withColumn("rnk", row_number().over(wK)).filter(col("rnk") <= topK)
      .select(col("query_id"), col("nn_id"),
        round(col("__s"), 6).as("score"), col("rnk").cast("long").as("rnk"))
  }

  /** Run a BOUNDED frame once: its rows on the driver, and the same rows
    * as a local relation that later plans read without re-running it.
    */
  private def evalOnce(df: DataFrame): (Array[Row], DataFrame) = {
    val rows = df.collect()
    (rows, df.sparkSession.createDataFrame(
      java.util.Arrays.asList(rows: _*), df.schema))
  }

  /** Shared skew gate for the IVF family: kind, books version, centroids
    * version (r17 — retrained centroids move every cell boundary, so
    * routing queries with them against old-centroid cell assignments
    * probes the wrong cells silently), residual flag — every serve/append
    * path funnels through it.
    */
  private def checkIvfMeta(spark: SparkSession, codesRoot: String,
                           booksRoot: String, centroidsRoot: String,
                           residual: Boolean,
                           what: String): Map[String, String] = {
    val meta = liveProps(spark, codesRoot, "ann.")
    require(meta.get("kind").contains("ivfpq_codes"),
      s"$what: $codesRoot is not an ivfpq_codes artifact root " +
        s"(ann.kind = ${meta.getOrElse("kind", "<absent>")})")
    requireVersion(meta, "books_version",
      Layout.currentVersionNumber(spark, booksRoot), what, "codebook")
    requireVersion(meta, "centroids_version",
      Layout.currentVersionNumber(spark, centroidsRoot), what, "centroids")
    val stored = meta.getOrElse("residual", "false").toBoolean
    require(stored == residual,
      s"$what: RESIDUAL-FLAG SKEW — the index was built with residual=" +
        s"$stored but the serve asked for residual=$residual; scoring " +
        "would silently drop (or double-count) the coarse q·c term")
    meta
  }

  /** The one artifact-serving pipeline behind the three IVF variants —
    * identical plan shape to [[graft.ops.Quantize.ivfPqTopK]]'s in-plan
    * serve, with the corpus legs swapped for the stored artifacts.
    */
  private def ivfServeArtifact(spark: SparkSession, codesRoot: String,
                               booksRoot: String, centroids: DataFrame,
                               queries: DataFrame, nprobe: Int, topK: Int,
                               residual: Boolean,
                               rotation: Option[Array[Array[Double]]]): DataFrame = {
    import graft.functions.{VectorFunctions => VF}
    val books = loadCodebooks(spark, booksRoot)
    val cent = centroids.select(col("vec_id").as("centroid_id"),
      col("embedding").as("cent_emb"),
      VF.dot(col("embedding"), col("embedding")).as("c2"))
    val wProbe = org.apache.spark.sql.expressions.Window
      .partitionBy("query_id").orderBy(col("qdist"), col("centroid_id"))
    val probes0 = queries
      .select(col("vec_id").as("query_id"), col("embedding").as("q_emb"),
        VF.dot(col("embedding"), col("embedding")).as("a2"))
      .crossJoin(broadcast(cent))
      .withColumn("qdist",
        col("a2") + col("c2") - lit(2.0) * VF.dot(col("q_emb"), col("cent_emb")))
      .withColumn("pr", row_number().over(wProbe)).filter(col("pr") <= nprobe)
    // the ADC LUT is computed ONCE PER QUERY and broadcast separately —
    // the r18 form repeated the m·k·subDim sub-dots per probed cell and
    // carried m·k doubles on every probe row (ADVICE r18); probe rows now
    // carry only routing (+ the coarse q·c term, which IS per-cell).
    // Under OPQ the ADC query rotates ((R·q)·(R·res) = q·res).
    val probes =
      if (!residual) probes0.select(col("query_id"), col("centroid_id"))
      else probes0.select(col("query_id"), col("centroid_id"),
        VF.dot(col("q_emb"), col("cent_emb")).as("__qdotc"))
    val qe0 = queries.select(col("vec_id").as("query_id"),
      col("embedding").cast("array<double>").as("__qe0"))
    val qluts = rotation.filter(_ => residual)
      .fold(qe0.withColumn("__qe", col("__qe0")))(r =>
        qe0.withColumn("__qe", graft.ops.Quantize.rotate(col("__qe0"), r)))
      .select(col("query_id"),
        graft.ops.Quantize.adcLut(col("__qe"), books).as("__lut"))
    // the probe rows are bounded (|queries|·nprobe): evaluated once, their
    // cell ids drive STATIC partition pruning on the codes root (the join
    // alone would leave pruning to runtime DPP heuristics) and the same
    // rows are the broadcast side of the codes join
    val (probeRows, probed) = evalOnce(probes)
    val cells = probeRows.map(_.getAs[Any]("centroid_id")).distinct
    val codes = Layout.readCurrent(spark, codesRoot)
      .filter(col("centroid_id").isin(cells: _*))
    val wK = org.apache.spark.sql.expressions.Window
      .partitionBy("query_id").orderBy(col("__s").desc, col("nn_id"))
    val adc = graft.ops.Quantize.adcScoreLut(col("__lut"), col("code"),
      books.length)
    codes.join(broadcast(probed), "centroid_id")
      .filter(col("nn_id") =!= col("query_id"))
      .join(broadcast(qluts), "query_id")
      .withColumn("__s", if (residual) col("__qdotc") + adc else adc)
      .withColumn("rnk", row_number().over(wK)).filter(col("rnk") <= topK)
      .select(col("query_id"), col("nn_id"), col("centroid_id"),
        round(col("__s"), 6).as("score"), col("rnk").cast("long").as("rnk"))
  }

  /** SERVE ADC top-k from the published artifacts: codebooks load once as
    * plan literals (bounded collect), codes stream from the versioned
    * root, queries broadcast. ZERO corpus floats and ZERO training scans
    * in the probe plan — the only corpus-sized input is the codes table
    * (AnnArtifactSpec pins both properties on the executed plan). Results
    * are identical to [[graft.ops.Quantize.adcTopK]] over the same
    * codebooks by construction (it IS that call over the loaded books).
    * REFUSES a books/codes version skew (r17).
    */
  def serveAdcTopK(spark: SparkSession, booksRoot: String, codesRoot: String,
                   queries: DataFrame, idCol: String, vecCol: String,
                   topK: Int): DataFrame = {
    val meta = readMeta(spark, codesRoot)
    require(meta.get("kind").contains("pq_codes"),
      s"serveAdcTopK: $codesRoot is not a pq_codes artifact root " +
        s"(kind = ${meta.getOrElse("kind", "<absent>")})")
    requireVersion(meta, "books_version",
      Layout.currentVersionNumber(spark, booksRoot), "serveAdcTopK",
      "codebook")
    val books = loadCodebooks(spark, booksRoot)
    val codes = Layout.readCurrent(spark, codesRoot)
    graft.ops.Quantize.adcTopK(codes, queries, idCol, vecCol, books, topK)
  }

  /** SERVE SQ8 top-k from the published artifacts: bounds load once as
    * plan literals (d rows), codes stream from the versioned root —
    * serving reads a quarter of the float bytes and re-trains nothing.
    * Results ≡ [[graft.ops.Quantize.sqTopK]] over the same bounds (it IS
    * that call). REFUSES a bounds/codes version skew.
    */
  def serveSqTopK(spark: SparkSession, boundsRoot: String, codesRoot: String,
                  queries: DataFrame, idCol: String, vecCol: String,
                  topK: Int): DataFrame = {
    val meta = readMeta(spark, codesRoot)
    require(meta.get("kind").contains("sq8_codes"),
      s"serveSqTopK: $codesRoot is not an sq8_codes artifact root " +
        s"(kind = ${meta.getOrElse("kind", "<absent>")})")
    requireVersion(meta, "bounds_version",
      Layout.currentVersionNumber(spark, boundsRoot), "serveSqTopK",
      "bounds")
    val (mins, maxs) = loadSqBounds(spark, boundsRoot)
    val codes = Layout.readCurrent(spark, codesRoot)
    graft.ops.Quantize.sqTopK(codes, queries, idCol, "code", vecCol,
      mins, maxs, topK)
  }
}
