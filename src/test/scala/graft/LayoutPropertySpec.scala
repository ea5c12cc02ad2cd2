package graft

import java.nio.file.Files
import org.apache.spark.sql.functions._
import org.scalacheck.{Gen, Prop, Test => SCTest}
import graft.sources.Layout

/** Model-based property test for the partitioned versioned layout: a random
  * sequence of key-pruned MERGE / DELETE ops must agree with a trivial
  * in-memory Map model after EVERY step, every historical version must
  * remain readable and equal to its recorded model snapshot (immutability),
  * and untouched partitions must carry forward without a rewrite.
  */
class LayoutPropertySpec extends SparkSpec {
  import spark.implicits._

  private val parts = Seq("p0", "p1", "p2")
  private def partOf(id: Long): String = parts((id % 3).toInt)

  /** kind: 0 = merge, 1 = partition-pruned delete (every run);
    * 2 = row-level DV delete, 3 = row-level DV update, 4 = DV purge,
    * 5 = row-level DV upsert, 6 = type widening of the id column,
    * 7 = partition-spec evolution (toggle part <-> id), 8 = compaction,
    * 9 = pure APPEND of fresh keys, 10 = one-call maintain (r11 — may
    * commit 0, 1 or 2 versions: purge and/or compact; vacuum pinned off
    * via a huge keepVersions so historical snapshots stay checkable),
    * 11 = ADD COLUMN (r12 — metadata-only, at most once; subsequent
    * writers carry the new nullable column, readers before the add
    * null-fill, and the model never reads it, so content equality keeps
    * holding across every interleaving with DML/purge/compact/evolution),
    * 12 = NOT NULL marker toggle, 13 = DEFAULT marker toggle (r14 —
    * metadata commits; the model's writes always satisfy/supply them),
    * 14 = COPY INTO fresh keys + replayed no-op (r14 ledger property),
    * 15 = z-ordered APPEND (r14 — placement-only), 16 = wholesale
    * REPLACE with the model filtered to the op's ids (r14 — empty =
    * truncate), 17 = UNIQUE(id) marker toggle (r14 — the model's Map IS
    * keyed by id, so every interleaved writer provably preserves the
    * constraint: merges/upserts key on id, appends/COPY INTO use
    * guaranteed-fresh ids, updates never SET id — the gates must
    * therefore never fire, which is exactly the property), 18 = declared
    * CLUSTER BY toggle on v (r15 — one metadata commit either way;
    * while declared, EVERY subsequent write front places its images on
    * the z-value, and the property is that placement NEVER changes
    * content) (full-op runs only).
    * After an evolution the COW writers may refuse (mixed layout) — the
    * model accepts either outcome, because purge/compact can converge the
    * layout as a side effect at any point.
    */
  private case class Op(kind: Int, ids: Seq[Long], vals: Seq[Double])

  private def genOps(maxKind: Int): Gen[List[Op]] = Gen.listOfN(5, for {
    kind <- Gen.choose(0, maxKind)
    n <- Gen.choose(1, 5)
    ids <- Gen.listOfN(n, Gen.choose(0L, 17L))
    vals <- Gen.listOfN(n, Gen.choose(1, 999).map(_.toDouble))
  } yield Op(kind, ids.distinct, vals))

  /** The model property over the copy-on-write merge/delete pair alone
    * (`fullOps = false`) or every op kind (round 10 on). Versions are read
    * through Layout.readVersion (a version dir is not self-contained).
    */
  private def modelProperty(fullOps: Boolean): Prop =
    Prop.forAll(genOps(if (fullOps) 18 else 1)) { ops =>
    val root = Files.createTempDirectory("graft_vprop").toString
    var model = (0L until 12L).map(i => i -> (partOf(i), i.toDouble * 10)).toMap
    // full-op tables are born with a NARROW id so a random widen op has
    // something to widen; writers send int ids until the widen fires
    // (the model, like any reader, sees longs either way)
    var widened = !fullOps
    var extraAdded = false // ADD COLUMN fired? (writers must then carry it)
    val base0 = model.toSeq.map { case (id, (p, v)) => (id, p, v) }
      .toDF("id", "part", "v")
    val base = if (fullOps) base0.withColumn("id", col("id").cast("int"))
               else base0
    Layout.initVersionedManifest(base, root, Seq("part"))
    def rowsDf(rows: Seq[(Long, String, Double)]) = {
      val df0 = rows.toDF("id", "part", "v")
      val df = if (widened) df0 else df0.withColumn("id", col("id").cast("int"))
      if (extraAdded) df.withColumn("extra", lit(null).cast("double")) else df
    }
    var snapshots = List(model) // index = version number

    def readVersion(v: Int): Map[Long, (String, Double)] =
      Layout.readVersion(spark, root, v).select("id", "part", "v")
        .as[(Long, String, Double)].collect()
        .map { case (i, p, v) => i -> (p, v) }.toMap

    var ok = true
    var version = 0
    var nextFresh = 100L // append keys: disjoint from the 0..17 universe
    var spec = Seq("part") // the CURRENT spec the COW writers must name
    var vNotNull = false   // NOT NULL marker toggled on v (r14)
    var vDefault = false   // DEFAULT marker toggled on v (r14)
    var vUnique = false    // UNIQUE(id) marker toggled (r14)
    ops.foreach { op =>
      // the row-level writers and purge NO-OP (no version committed) when
      // nothing matches — the model must advance the version only when the
      // layout did
      var committed = true
      // a COW writer on a layout still carrying old-spec leaves refuses;
      // whether it is still mixed depends on interleaved purge/compact, so
      // accept both outcomes (refusal = state and version unchanged)
      def cowOrRefused(body: => Unit)(onSuccess: => Unit): Unit =
        try { body; onSuccess } catch {
          case e: IllegalArgumentException
              if e.getMessage.contains("earlier partition spec") =>
            committed = false
        }
      op.kind match {
        case 0 =>
          val rows = op.ids.zip(op.vals).map { case (i, v) => (i, partOf(i), v) }
          cowOrRefused {
            Layout.mergeVersionedPartitioned(spark, root,
              rowsDf(rows), Seq("id"), spec)
          } {
            model = model ++ rows.map { case (i, p, v) => i -> (p, v) }
          }
        case 1 =>
          cowOrRefused {
            Layout.deleteVersionedPartitioned(spark, root,
              col("id").isin(op.ids: _*), spec)
          } {
            // a no-match partition delete is a NO-OP (no version), like
            // the row-level writers
            committed = op.ids.exists(model.contains)
            model = model -- op.ids
          }
        case 2 =>
          Layout.deleteVersionedRows(spark, root, col("id").isin(op.ids: _*))
          committed = op.ids.exists(model.contains)
          model = model -- op.ids
        case 3 =>
          Layout.updateVersionedRows(spark, root,
            col("id").isin(op.ids: _*), Map("v" -> (col("v") + 1.0)))
          committed = op.ids.exists(model.contains)
          model = model ++ op.ids.flatMap(i =>
            model.get(i).map { case (p, v) => i -> (p, v + 1.0) })
        case 4 =>
          val (_, n) = Layout.purgeDeletedRows(spark, root)
          committed = n > 0
        case 5 =>
          val rows = op.ids.zip(op.vals).map { case (i, v) => (i, partOf(i), v) }
          Layout.upsertVersionedRows(spark, root, rowsDf(rows), Seq("id"))
          model = model ++ rows.map { case (i, p, v) => i -> (p, v) }
        case 6 =>
          if (widened || spec == Seq("id"))
            committed = false // nothing to widen, or id is dir-encoded
          else {
            Layout.widenColumn(spark, root, "id",
              org.apache.spark.sql.types.LongType)
            widened = true // values unchanged — the model doesn't move
          }
        case 7 =>
          // toggle the spec — one metadata commit, values unchanged; the
          // key doubles as the alternate partition column (atomic, never
          // renamed, so always eligible)
          spec = if (spec == Seq("part")) Seq("id") else Seq("part")
          Layout.repartitionTable(spark, root, spec)
        case 8 =>
          val (_, n) = Layout.compactVersionedPartitioned(spark, root,
            targetBytes = 128L << 20)
          committed = n > 0 // uniform + healthy → no version claimed
        case 9 =>
          // append with GUARANTEED-fresh keys: keeps the Map model exact
          // (append allows duplicates; the random 0..17 ops never touch
          // the fresh range, so uniqueness holds by construction)
          val fresh = op.ids.zip(op.vals).map { case (i, v) =>
            val id = nextFresh + i
            (id, partOf(id), v)
          }
          nextFresh += 100L
          Layout.appendVersionedRows(spark, root, rowsDf(fresh))
          model = model ++ fresh.map { case (i, p, v) => i -> (p, v) }
        case 11 =>
          if (extraAdded) committed = false // the name is claimed — once
          else {
            Layout.addColumn(spark, root, "extra",
              org.apache.spark.sql.types.DoubleType)
            extraAdded = true // values unchanged — the model doesn't move
          }
        case 12 =>
          // r14 NOT NULL marker toggle: a metadata commit either way (the
          // model's v is never null, so declaration always validates and
          // later writers keep passing the gate)
          if (vNotNull) Layout.dropNotNull(spark, root, "v")
          else Layout.setNotNull(spark, root, "v")
          vNotNull = !vNotNull
        case 13 =>
          // r14 DEFAULT marker toggle: inserts in this model always
          // supply every column, so the marker is pure metadata here
          if (vDefault) Layout.dropColumnDefault(spark, root, "v")
          else Layout.setColumnDefault(spark, root, "v", "0.5")
          vDefault = !vDefault
        case 14 =>
          // r14 COPY INTO with guaranteed-fresh keys + an immediate
          // REPLAY that must no-op (the ledger property), all one version
          val fresh = op.ids.zip(op.vals).map { case (i, v) =>
            val id = nextFresh + i
            (id, partOf(id), v)
          }
          nextFresh += 100L
          val zone = Files.createTempDirectory("graft_vprop_zone").toString
          rowsDf(fresh).coalesce(1).write.mode("append").parquet(zone)
          val (_, n1) = Layout.copyInto(spark, root, zone)
          val vAfter = Layout.currentVersionNumber(spark, root)
          val (_, n2) = Layout.copyInto(spark, root, zone)
          ok &&= n1 == 1 && n2 == 0 &&
            Layout.currentVersionNumber(spark, root) == vAfter
          model = model ++ fresh.map { case (i, p, v) => i -> (p, v) }
        case 15 =>
          // r14 z-ordered append: placement-only — results identical to
          // a plain append of the same fresh rows
          val fresh = op.ids.zip(op.vals).map { case (i, v) =>
            val id = nextFresh + i
            (id, partOf(id), v)
          }
          nextFresh += 100L
          Layout.appendVersionedRows(spark, root, rowsDf(fresh),
            zOrderCols = Seq("v"))
          model = model ++ fresh.map { case (i, p, v) => i -> (p, v) }
        case 16 =>
          // r14 wholesale REPLACE with the model filtered to op.ids —
          // empty result is a legitimate truncate (still one commit)
          val keep = model.view.filterKeys(op.ids.contains).toMap
          Layout.replaceVersionedRows(spark, root,
            rowsDf(keep.toSeq.map { case (i, (p, v)) => (i, p, v) }))
          model = keep
        case 17 =>
          // r14 UNIQUE(id) toggle: a metadata commit either way; while
          // declared, EVERY interleaved writer must keep passing its
          // gate (the model is id-keyed, so uniqueness holds by
          // construction — a spurious refusal fails the property)
          if (vUnique) Layout.dropUniqueConstraint(spark, root, "uid")
          else Layout.addUniqueConstraint(spark, root, "uid", Seq("id"))
          vUnique = !vUnique
        case 18 =>
          // r15 declared-clustering toggle: a metadata commit either way
          // (CLUSTER BY / CLUSTER BY NONE); placement-only — the new
          // version reads as the unchanged model, and content equality
          // after every later op IS the property
          if (Layout.currentManifest(spark, root)._2.clusterColumns.nonEmpty)
            Layout.setClusterColumns(spark, root, Nil)
          else Layout.setClusterColumns(spark, root, Seq("v"))
        case 10 =>
          val r = Layout.maintain(spark, root,
            Layout.MaintenancePolicy(keepVersions = 100000))
          // content-invariant by contract; each committing step (purge,
          // compact) claims one version whose snapshot equals the model
          committed = false
          val commits = (if (r.purgedLeaves > 0) 1 else 0) +
            (if (r.compactedLeaves > 0) 1 else 0)
          (1 to commits).foreach { _ =>
            version += 1
            ok &&= readVersion(version) == model
            snapshots = snapshots :+ model
          }
      }
      if (committed) {
        version += 1
        ok &&= readVersion(version) == model
        snapshots = snapshots :+ model
      } else ok &&= readVersion(version) == model
    }
    // every historical version still reads as exactly its model snapshot
    ok &&= snapshots.zipWithIndex.forall { case (snap, v) =>
      readVersion(v) == snap
    }
    // live pointer resolves to the final state
    ok &&= Layout.readCurrent(spark, root).select("id", "part", "v")
      .as[(Long, String, Double)].collect()
      .map { case (i, p, v) => i -> (p, v) }.toMap == model
    ok
  }

  test("random merge/delete sequences match the Map model; versions immutable") {
    val res = SCTest.check(
      SCTest.Parameters.default.withMinSuccessfulTests(4).withWorkers(1),
      modelProperty(fullOps = false))
    assert(res.passed, res.toString)
  }

  test("manifest mode: random merge/delete/DV-DML/purge/widen/REPARTITION/compact/APPEND/MAINTAIN/ADD-COLUMN/markers/COPY-INTO/zorder/REPLACE sequences match the Map model") {
    val res = SCTest.check(
      SCTest.Parameters.default.withMinSuccessfulTests(4).withWorkers(1),
      modelProperty(fullOps = true))
    assert(res.passed, res.toString)
  }
}
