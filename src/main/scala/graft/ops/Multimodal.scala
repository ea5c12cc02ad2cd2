package graft.ops

import org.apache.spark.sql.{Column, DataFrame}
import org.apache.spark.sql.functions._
import org.apache.spark.sql.types._

/** North-star multimodal column plumbing: image/audio/video payloads as
  * opaque `binary` columns plus typed metadata, with decode / feature-extract
  * stubbed (no media libraries ship in this environment — see STUB markers).
  * The Spark-side contract — schema, partitioning, batch shape — is real and
  * tested; swapping the stub for a real decoder changes no plan shape.
  */
object Multimodal {

  /** Canonical asset schema: payload + typed metadata (media kind, declared
    * dims, byte size). Mirrors how a 100 TB lake stores media: payload
    * columns in parquet, pruned away unless a query touches them.
    */
  val assetSchema: StructType = StructType(Seq(
    StructField("asset_id", LongType, nullable = false),
    StructField("kind", StringType, nullable = false), // image | audio | video
    StructField("payload", BinaryType, nullable = true),
    StructField("meta", StructType(Seq(
      StructField("width", IntegerType, nullable = true),
      StructField("height", IntegerType, nullable = true),
      StructField("duration_ms", LongType, nullable = true),
      StructField("codec", StringType, nullable = true)
    )), nullable = true)
  ))

  /** Wrap a text table into asset shape (payload = UTF-8 bytes) — the
    * deterministic stand-in corpus used by tests and queries.
    */
  def fromDocuments(docs: DataFrame): DataFrame =
    docs.select(
      col("doc_id").as("asset_id"),
      lit("image").as("kind"),
      encode(col("text"), "UTF-8").as("payload"),
      struct(
        (length(col("text")) % 640 + 1).cast("int").as("width"),
        (length(col("text")) % 480 + 1).cast("int").as("height"),
        lit(null).cast("long").as("duration_ms"),
        lit("stub").as("codec")).as("meta"))

  /** STUB — deterministic fake decoder. A real implementation would hand the
    * payload bytes to an image/audio codec; this derives `dim` pseudo-random
    * unit features from xxhash64(payload, i) so the downstream plan
    * (feature column shape array<double>, per-row cost, partitioning) is
    * exercised honestly without the codec dependency.
    */
  def stubDecodeFeatures(dim: Int, inputs: Column*): Column =
    transform(sequence(lit(0), lit(dim - 1)),
      i => pmod(xxhash64(inputs :+ i: _*), lit(10000)).cast("double") / 10000.0)

  /** STUB — frame sampling plan shape: emit one row per sampled frame index.
    * Real video decode would replace `stubDecodeFeatures` on the frame bytes;
    * the explode + per-frame feature layout is the part that matters at
    * scale (frames dominate row counts; keep them partitioned by asset).
    */
  def sampleFrames(assets: DataFrame, everyNth: Int, maxFrames: Int, dim: Int): DataFrame =
    assets
      .withColumn("frame_idx",
        explode(sequence(lit(0L), least(
          floor(coalesce(col("meta.duration_ms"),
            octet_length(col("payload")).cast("long")) / everyNth).cast("long"),
          lit((maxFrames - 1).toLong)))))
      .withColumn("features", stubDecodeFeatures(dim, col("payload"), col("frame_idx")))
      .select(col("asset_id"), col("frame_idx"), col("features"))

  /** Cheap metadata projection that never touches payload bytes — the scan
    * must prune the payload column (verified in tests via ReadSchema).
    */
  def metadataOnly(assets: DataFrame): DataFrame =
    assets.select(col("asset_id"), col("kind"),
      col("meta.width"), col("meta.height"), col("meta.codec"))

  /** Perceptual prints of every asset's payload: 64-bit aHash + dHash
    * ([[graft.functions.expressions.PerceptualHash]] — one codegen'd pass
    * over the bytes each). Assets whose payload is NULL or shorter than
    * the grid are dropped (they have no print).
    */
  def phashes(assets: DataFrame): DataFrame = {
    import graft.functions.expressions.PerceptualHash
    // the no-print condition expressed on the INPUT (null or shorter than
    // the 65-cell dHash grid) instead of `ahash.isNotNull`: a filter on
    // the derived column re-evaluates the whole hash per probe once the
    // optimizer pushes it through the projection — measured 3x the
    // per-row hash work for the same rows (PlanSpec pins one
    // perceptualhash call per print)
    assets.filter(col("payload").isNotNull &&
        octet_length(col("payload")) >= PerceptualHash.MinPayloadBytes)
      .select(col("asset_id"),
        PerceptualHash.aHash(col("payload")).as("ahash"),
        PerceptualHash.dHash(col("payload")).as("dhash"))
  }

  /** Byte-level near-duplicate asset pairs: dHash prints within Hamming
    * distance `maxDist`, candidates from the standard 4 × 16-bit chunk
    * pigeonhole (any pair within distance 3 agrees on at least one chunk,
    * so an equi-join on (chunk_idx, chunk_value) finds all of them with a
    * plain hash shuffle — the [[SimHashDedup]] layout applied to the
    * multimodal pillar; never all-pairs, scales linearly in assets).
    */
  def phashNearDupPairs(assets: DataFrame, maxDist: Int = 3): DataFrame = {
    require(maxDist <= 3,
      s"phashNearDupPairs: the 4-chunk pigeonhole is complete only for " +
        s"maxDist <= 3, got $maxDist — add chunks for a looser radius")
    val prints = phashes(assets).select(col("asset_id").as("id"), col("dhash"))
    val chunks = graft.util.Caches.cache(prints.select(col("id"), col("dhash"),
        explode(array((0 until 4).map(i =>
          struct(lit(i).as("ci"),
            shiftright(col("dhash"), i * 16).bitwiseAND(0xFFFFL).as("cv"))): _*))
          .as("c"))
      .select(col("id"), col("dhash"), col("c.ci"), col("c.cv"))).toDF
    chunks.as("x").join(chunks.as("y"),
        col("x.ci") === col("y.ci") && col("x.cv") === col("y.cv") &&
          col("x.id") < col("y.id"))
      .select(col("x.id").as("id_a"), col("y.id").as("id_b"),
        bit_count(col("x.dhash").bitwiseXOR(col("y.dhash"))).cast("int")
          .as("dist"))
      .distinct()
      .filter(col("dist") <= maxDist)
  }

  /** Per-QUADRANT dHash prints: the payload splits into `quads`
    * contiguous byte ranges (each `⌊n/quads⌋` bytes — the remainder tail
    * is dropped, deterministically) and each range gets its own print.
    * This is the block-hash layout that makes matching CROP/REGION-EDIT
    * resistant: a whole-payload print spreads a localized edit over the
    * global cell grid (a replaced quarter flips ~quads·16 bits — far past
    * any hamming radius), while the untouched quadrants' prints stay
    * byte-identical.
    *
    * Scale shape: one projection computes all `quads` slices + hashes per
    * row (the payload is read once; each print is one codegen'd pass over
    * its quarter), and the explode output is (id, q, 8-byte print) — the
    * heavy payload never shuffles.
    *
    * @return (asset_id, q, print) for assets whose quadrants reach the
    *         65-byte dHash grid
    */
  def quadrantPrints(assets: DataFrame, quads: Int = 4): DataFrame = {
    import graft.functions.expressions.PerceptualHash
    require(quads >= 2, s"quadrantPrints: quads must be >= 2, got $quads")
    val qlen = floor(octet_length(col("payload")) / lit(quads)).cast("int")
    assets.filter(col("payload").isNotNull)
      .select(col("asset_id"), col("payload"), qlen.as("qlen"))
      .filter(col("qlen") >= PerceptualHash.MinPayloadBytes)
      .select(col("asset_id"),
        explode(array((0 until quads).map(i =>
          struct(lit(i).as("q"),
            PerceptualHash.dHash(col("payload")
              .substr(lit(i) * col("qlen") + lit(1), col("qlen")))
              .as("print"))): _*)).as("qp"))
      .select(col("asset_id"), col("qp.q"), col("qp.print"))
  }

  /** Crop-resistant near-duplicate asset pairs: assets sharing at least
    * `minShared` byte-identical quadrant prints. The equi-join on
    * (quadrant, print) is the same banded shape as [[phashNearDupPairs]]
    * — never all-pairs — but survives edits [[phashNearDupPairs]] cannot:
    * a replaced/cropped quarter corrupts ONE quadrant's print and the
    * pair still matches on the remaining `quads − 1`.
    *
    * `printCap` is the hot-bucket guard (the [[SetSimJoin]] dfCap applied
    * to the multimodal pillar): a CONSTANT-content quadrant — letterbox
    * bars, solid fills, padding — always dHashes to the same print
    * (equal cell means ⇒ every gradient bit false ⇒ print 0), so every
    * asset sharing a degenerate region lands in ONE (q, print) bucket and
    * the self-join goes quadratic on it (C(df, 2) pairs from that key
    * alone). With the cap, prints whose per-quadrant frequency exceeds
    * `cap` are dropped from BOTH join sides via a broadcast anti-join
    * against the (tiny, ≤ |prints|/cap keys) over-cap set, bounding every
    * join key's match group to `cap` rows. Conservative direction: a pair
    * agreeing only on a print shared by hundreds of assets is noise, not
    * evidence of shared provenance — legit near-dups still agree on
    * `minShared` DISCRIMINATING quadrants; the only loss is pairs whose
    * qualifying overlap depends on degenerate regions.
    *
    * @param printCap drop (quadrant, print) buckets whose asset frequency
    *                 exceeds the cap; None = exact (unsafe on payloads
    *                 with shared constant regions).
    * @return (id_a, id_b, n_shared) pairs with id_a < id_b
    */
  def quadrantMatches(assets: DataFrame, quads: Int = 4,
                      minShared: Int = 2,
                      printCap: Option[Long] = None): DataFrame = {
    require(minShared >= 1 && minShared <= quads,
      s"quadrantMatches: minShared must be in [1, $quads], got $minShared")
    val all = graft.util.Caches.cache(quadrantPrints(assets, quads)).toDF
    val prints = printCap match {
      case Some(cap) =>
        require(cap >= 1, s"quadrantMatches: printCap must be >= 1, got $cap")
        val hot = all.groupBy(col("q"), col("print"))
          .agg(count(lit(1)).as("__df")).filter(col("__df") > cap)
          .select(col("q"), col("print"))
        all.join(broadcast(hot), Seq("q", "print"), "left_anti")
      case None => all
    }
    prints.as("x").join(prints.as("y"),
        col("x.q") === col("y.q") && col("x.print") === col("y.print") &&
          col("x.asset_id") < col("y.asset_id"))
      .groupBy(col("x.asset_id").as("id_a"), col("y.asset_id").as("id_b"))
      .agg(countDistinct(col("x.q")).cast("long").as("n_shared"))
      .filter(col("n_shared") >= minShared)
  }

  /** Per-frame audio energy rows: `(asset_id, frame_no, energy)` from one
    * codegen'd pass over the payload bytes
    * ([[graft.functions.expressions.FrameEnergy]]; unsigned-8-bit-PCM
    * decode contract documented there). Assets with a NULL payload or
    * fewer bytes than one frame emit no rows — zero frames is the
    * answer, and the frame grid is where every downstream consumer
    * (silence runs, envelopes, activity ratios) starts.
    *
    * Scale shape: the explode multiplies rows by bytes/frameLen but each
    * output row is 24 bytes — the heavy payload column is read once and
    * never shuffled; everything after the projection is frame-grain.
    */
  def audioFrameEnergies(assets: DataFrame, frameLen: Int): DataFrame = {
    import graft.functions.expressions.FrameEnergy
    assets.filter(col("payload").isNotNull)
      .select(col("asset_id"),
        posexplode(FrameEnergy(col("payload"), frameLen)))
      .withColumnsRenamed(Map("pos" -> "frame_no", "col" -> "energy"))
  }

  /** Silence profile per asset: frame count, silent-frame count, number
    * of maximal silence runs, the longest run, and the exact total
    * energy. A frame is silent when its energy is under `threshold`
    * (callers size it as meanSquareAmplitude × frameLen). Runs are
    * delimited with the gaps-and-islands trick over the frame grid —
    * the running count of LOUD frames is constant exactly while silent,
    * so it is the island id (same device as [[Windows.underwater]]).
    *
    * All outputs are exact integers — no float crosses an engine
    * boundary. Assets with zero silent frames report 0 runs / 0 longest
    * (not missing); assets with no frames at all emit no row.
    *
    * Scale shape: one window pass partitioned by asset over frame-grain
    * rows, then two aggregates — payload bytes never shuffle, and the
    * per-asset frame series is bounded by payload size / frameLen.
    */
  def silenceProfile(assets: DataFrame, frameLen: Int,
                     threshold: Long): DataFrame = {
    import org.apache.spark.sql.expressions.Window
    val frames = audioFrameEnergies(assets, frameLen)
      .withColumn("silent", col("energy") < threshold)
    val w = Window.partitionBy("asset_id").orderBy("frame_no")
    val isl = frames.withColumn("grp",
      count(when(!col("silent"), 1)).over(w))
    // ONE lineage: island-level then asset-level aggregates — a separate
    // runs branch re-ran the scan+explode (PlanSpec pins one
    // frame_energy), and both groupBys reuse the window's asset_id
    // partitioning, so the whole profile costs a single shuffle
    isl.groupBy("asset_id", "silent", "grp")
      .agg(count(lit(1)).as("rl"), sum(col("energy")).as("e"))
      .groupBy("asset_id")
      .agg(sum(col("rl")).as("n_frames"),
        coalesce(sum(when(col("silent"), col("rl"))), lit(0L)).as("n_silent"),
        count(when(col("silent"), 1)).as("n_silence_runs"),
        coalesce(max(when(col("silent"), col("rl"))), lit(0L))
          .as("longest_silence"),
        sum(col("e")).as("sum_energy"))
      .select("asset_id", "n_frames", "n_silent", "n_silence_runs",
        "longest_silence", "sum_energy")
  }

  /** Shot/segment detection on the energy envelope: a boundary wherever
    * consecutive frame energies jump by more than `threshold` (the
    * classic hard-cut detector — on video frames the same rule fires on
    * histogram/energy discontinuities; on audio it segments at dynamics
    * changes). Shots are the islands between boundaries: the running
    * boundary count IS the shot id, so one window pass and a two-level
    * aggregate produce the per-asset profile — same single-scan,
    * single-shuffle shape as [[silenceProfile]], exact integers
    * throughout.
    *
    * @return per asset with ≥1 frame: (asset_id, n_frames, n_shots,
    *         longest_shot)
    */
  def energyShots(assets: DataFrame, frameLen: Int,
                  threshold: Long): DataFrame = {
    import org.apache.spark.sql.expressions.Window
    val w = Window.partitionBy("asset_id").orderBy("frame_no")
    audioFrameEnergies(assets, frameLen)
      .withColumn("boundary",
        when(abs(col("energy") - lag(col("energy"), 1).over(w))
          > threshold, 1L).otherwise(0L))
      .withColumn("shot", sum(col("boundary")).over(w))
      .groupBy("asset_id", "shot").agg(count(lit(1)).as("len"))
      .groupBy("asset_id")
      .agg(sum(col("len")).as("n_frames"),
        count(lit(1)).as("n_shots"),
        max(col("len")).as("longest_shot"))
  }
}
