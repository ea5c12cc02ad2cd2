package graft

import org.apache.spark.sql.functions._
import graft.model.AnnIndex
import graft.ops.Quantize

/** Persisted ANN artifacts: publish→load roundtrip exactness, the
  * corpus-float-free / training-free serving plan, retrain-as-new-version
  * time travel, serve ≡ in-plan, version-skew REFUSAL on every serve path
  * (r17), OPQ/SQ8 artifact modes, exact-refine serving, and incremental
  * index append ≡ rebuild.
  */
class AnnArtifactSpec extends SparkSpec {
  import spark.implicits._

  private def freshRoot() = graft.util.TempRoots.create("graft_annspec")

  test("publishCodebooks → loadCodebooks is an exact roundtrip; metadata " +
      "lands in the version dir; guards reject ragged books (r16)") {
    val cb = Quantize.seededCodebooks(m = 3, k = 4, subDim = 8, seed = 11)
    val root = freshRoot() + "/books"
    val vdir = AnnIndex.publishCodebooks(spark, root, cb,
      extraMeta = Map("seed" -> "11"))
    val back = AnnIndex.loadCodebooks(spark, root)
    assert(back.length == cb.length)
    for (j <- cb.indices; c <- cb(j).indices)
      assert(back(j)(c).sameElements(cb(j)(c)),
        s"centroid ($j, $c) did not roundtrip")
    // the metadata is committed WITH the version it describes: it lives
    // in that version's manifest
    assert(vdir.endsWith("/v00000"))
    def meta(k: String) = graft.sources.ManifestIndex.read(spark, root,
      "v00000").properties.get(graft.sources.ManifestIndex.PublishPrefix + k)
    assert(meta("kind").contains("pq_codebooks") && meta("m").contains("3") &&
      meta("seed").contains("11"))
    intercept[IllegalArgumentException] {
      AnnIndex.publishCodebooks(spark, freshRoot() + "/bad",
        Array(Array(Array(1.0, 2.0)), Array(Array(1.0))))
    }
  }

  test("metadata JSON survives control characters and quotes in extras, " +
      "and parses back exactly (ADVICE r16: full C0 escaping)") {
    val nasty = "a\"b\\c\nd\tefg\rh"
    val cb = Quantize.seededCodebooks(m = 1, k = 2, subDim = 4, seed = 3)
    val root = freshRoot() + "/books"
    AnnIndex.publishCodebooks(spark, root, cb,
      extraMeta = Map("note" -> nasty))
    val meta = AnnIndex.readMeta(spark, root)
    assert(meta("note") == nasty,
      s"control-character roundtrip broke: ${meta("note")}")
    assert(meta("kind") == "pq_codebooks")
  }

  test("retrain publishes a NEW version: loadCodebooks serves the retrain, " +
      "the frozen index stays time-travel readable (r16)") {
    val root = freshRoot() + "/books"
    val v0 = Quantize.seededCodebooks(m = 2, k = 4, subDim = 8, seed = 1)
    val v1 = Quantize.seededCodebooks(m = 2, k = 4, subDim = 8, seed = 2)
    AnnIndex.publishCodebooks(spark, root, v0)
    AnnIndex.publishCodebooks(spark, root, v1)
    assert(AnnIndex.loadCodebooks(spark, root)(0)(0)
      .sameElements(v1(0)(0)))
    val frozen = graft.sources.Layout.readVersion(spark, root, 0)
      .filter($"subspace" === 0 && $"centroid" === 0)
      .select($"center").as[Seq[Double]].head()
    assert(frozen.sameElements(v0(0)(0)))
  }

  test("serveAdcTopK ≡ in-plan adcTopK over the same books, and the probe " +
      "plan reads ZERO corpus floats and runs ZERO training scans (r16)") {
    val emb = graft.sources.Tables.embeddings(spark, sf())
    val cb = Quantize.seededCodebooks(m = 4, k = 8, subDim = 16, seed = 7)
    val root = freshRoot()
    AnnIndex.publishCodebooks(spark, root + "/books", cb)
    AnnIndex.publishCodes(spark, root + "/codes",
      Quantize.encode(emb, "embedding", cb), "vec_id", booksVersion = 0)
    val queries = emb.filter($"vec_id" < 5)
    val served = AnnIndex.serveAdcTopK(spark, root + "/books",
      root + "/codes", queries, "vec_id", "embedding", topK = 5)
    val inPlan = Quantize.adcTopK(Quantize.encode(emb, "embedding", cb),
      queries, "vec_id", "embedding", cb, topK = 5)
    assert(served.collect().toSet == inPlan.collect().toSet)
    // plan pins: the corpus-sized scan is the CODES table (vec_id + code
    // only); the embedding column appears ONLY under the broadcast query
    // side, and no aggregate (training) node exists anywhere
    val plan = served.queryExecution.executedPlan.toString
    val codesScans = plan.linesIterator
      .filter(l => l.contains("Location") && l.contains("/codes")).toSeq
    assert(codesScans.nonEmpty, s"no codes-table scan in the plan:\n$plan")
    val codesSchema = plan.linesIterator
      .filter(_.contains("ReadSchema")).filter(_.contains("code")).toSeq
    assert(codesSchema.nonEmpty && codesSchema.forall(!_.contains("embedding")),
      s"the codes scan must not read floats:\n$plan")
    assert(!plan.contains("HashAggregate") && !plan.contains("ObjectHashAggregate"),
      s"serving must not train (no aggregates in the probe plan):\n$plan")
  }

  test("serveAdcTopK REFUSES a books/codes version skew: retrained books " +
      "cannot silently score stale codes (r17)") {
    val emb = graft.sources.Tables.embeddings(spark, sf())
    val cb = Quantize.seededCodebooks(m = 4, k = 8, subDim = 16, seed = 7)
    val root = freshRoot()
    AnnIndex.publishCodebooks(spark, root + "/books", cb)
    AnnIndex.publishCodes(spark, root + "/codes",
      Quantize.encode(emb, "embedding", cb), "vec_id", booksVersion = 0)
    // retrain: books flip to v1, codes still record books_version=0
    AnnIndex.publishCodebooks(spark, root + "/books",
      Quantize.seededCodebooks(m = 4, k = 8, subDim = 16, seed = 99))
    val ex = intercept[IllegalArgumentException] {
      AnnIndex.serveAdcTopK(spark, root + "/books", root + "/codes",
        emb.filter($"vec_id" < 3), "vec_id", "embedding", topK = 5)
    }
    assert(ex.getMessage.contains("VERSION SKEW"), ex.getMessage)
  }

  test("publishIvfPqCodes + serveIvfPqTopK ≡ in-plan ivfPqTopK; the " +
      "plan prunes to the probed cells and reads zero corpus floats (r16)") {
    val emb = graft.sources.Tables.embeddings(spark, sf())
    val cb = Quantize.seededCodebooks(m = 4, k = 8, subDim = 16, seed = 7)
    val root = freshRoot()
    AnnIndex.publishCodebooks(spark, root + "/books", cb)
    val cents = emb.filter($"vec_id" < 8)
    AnnIndex.publishCentroids(spark, root + "/cents", cents)
    AnnIndex.publishIvfPqCodes(spark, root + "/codes", emb, cents, cb)
    val queries = emb.filter($"vec_id" >= 10 && $"vec_id" <= 12)
    val served = AnnIndex.serveIvfPqTopK(spark, root + "/codes",
      root + "/books", root + "/cents", queries, nprobe = 2, topK = 4)
    val inPlan = Quantize.ivfPqTopK(emb, cents, queries, cb,
      nprobe = 2, topK = 4)
    assert(served.collect().toSet == inPlan.collect().toSet)
    // plan pins: the codes scan carries the static cell filter (partition
    // pruning), reads no embedding column, and no aggregate (assignment/
    // training) appears anywhere in the probe plan
    val plan = served.queryExecution.executedPlan.toString
    assert(plan.contains("centroid_id"), plan)
    val codesSchema = plan.linesIterator
      .filter(_.contains("ReadSchema")).filter(_.contains("code")).toSeq
    assert(codesSchema.nonEmpty && codesSchema.forall(!_.contains("embedding")),
      s"the codes scan must not read floats:\n$plan")
    assert(!plan.contains("HashAggregate") &&
      !plan.contains("ObjectHashAggregate"),
      s"serving must not assign or train:\n$plan")
  }

  test("residual (IVFADC) artifact mode ≡ in-plan ivfPqResidualTopK; a " +
      "build/serve flag mismatch is REFUSED, and so is a books retrain " +
      "(r17: refusal replaces the r16 visible-divergence contract)") {
    val emb = graft.sources.Tables.embeddings(spark, sf())
    val cb = Quantize.seededCodebooks(m = 4, k = 8, subDim = 16, seed = 7)
    val root = freshRoot()
    AnnIndex.publishCodebooks(spark, root + "/books", cb)
    val cents = emb.filter($"vec_id" < 8)
    AnnIndex.publishCentroids(spark, root + "/cents", cents)
    AnnIndex.publishIvfPqCodes(spark, root + "/codes", emb, cents, cb,
      residual = true)
    val queries = emb.filter($"vec_id" >= 10 && $"vec_id" <= 12)
    val served = AnnIndex.serveIvfPqTopK(spark, root + "/codes",
      root + "/books", root + "/cents", queries, nprobe = 2, topK = 4,
      residual = true).collect().toSet
    val inPlan = Quantize.ivfPqResidualTopK(emb, cents, queries, cb,
      nprobe = 2, topK = 4).collect().toSet
    assert(served == inPlan)
    // a mismatched residual flag would silently drop the coarse q·c term
    // — REFUSED at the metadata gate, never a quiet wrong answer
    val exFlag = intercept[IllegalArgumentException] {
      AnnIndex.serveIvfPqTopK(spark, root + "/codes", root + "/books",
        root + "/cents", queries, nprobe = 2, topK = 4, residual = false)
    }
    assert(exFlag.getMessage.contains("RESIDUAL-FLAG SKEW"),
      exFlag.getMessage)
    // CENTROIDS retrain without re-encode: refused (r17 — moved cell
    // boundaries would route queries into the wrong cells silently)
    AnnIndex.publishCentroids(spark, root + "/cents",
      emb.filter($"vec_id" >= 2 && $"vec_id" < 10))
    val exCent = intercept[IllegalArgumentException] {
      AnnIndex.serveIvfPqTopK(spark, root + "/codes", root + "/books",
        root + "/cents", queries, nprobe = 2, topK = 4, residual = true)
    }
    assert(exCent.getMessage.contains("VERSION SKEW") &&
      exCent.getMessage.contains("centroids"), exCent.getMessage)
    // books retrain without re-encode: refused
    AnnIndex.publishCodebooks(spark, root + "/books",
      Quantize.seededCodebooks(m = 4, k = 8, subDim = 16, seed = 50))
    val exSkew = intercept[IllegalArgumentException] {
      AnnIndex.serveIvfPqTopK(spark, root + "/codes", root + "/books",
        root + "/cents", queries, nprobe = 2, topK = 4, residual = true)
    }
    assert(exSkew.getMessage.contains("VERSION SKEW"), exSkew.getMessage)
  }

  test("OPQ artifacts: rotation roundtrips exactly; serveIvfPqOpqTopK ≡ " +
      "in-plan ivfPqOpqTopK; rotation retrain and the plain-serve route " +
      "are both refused (r17)") {
    val emb = graft.sources.Tables.embeddings(spark, sf())
    val cb = Quantize.seededCodebooks(m = 4, k = 8, subDim = 16, seed = 7)
    val rot = Quantize.seededRotation(64, seed = 11)
    val root = freshRoot()
    AnnIndex.publishRotation(spark, root + "/rot", rot)
    val back = AnnIndex.loadRotation(spark, root + "/rot")
    assert(back.length == 64 &&
      back.indices.forall(i => back(i).sameElements(rot(i))),
      "rotation did not roundtrip bit-exactly")
    AnnIndex.publishCodebooks(spark, root + "/books", cb)
    val cents = emb.filter($"vec_id" < 8)
    AnnIndex.publishCentroids(spark, root + "/cents", cents)
    AnnIndex.publishIvfPqCodes(spark, root + "/codes", emb, cents, cb,
      residual = true, rotation = Some(rot), rotationVersion = Some(0))
    val queries = emb.filter($"vec_id" >= 10 && $"vec_id" <= 12)
    val served = AnnIndex.serveIvfPqOpqTopK(spark, root + "/codes",
      root + "/books", root + "/rot", root + "/cents", queries,
      nprobe = 2, topK = 4)
    val inPlan = Quantize.ivfPqOpqTopK(emb, cents, queries, cb, rot,
      nprobe = 2, topK = 4)
    assert(served.collect().toSet == inPlan.collect().toSet)
    // serving a ROTATED index through the unrotated path: refused
    val exRoute = intercept[IllegalArgumentException] {
      AnnIndex.serveIvfPqTopK(spark, root + "/codes", root + "/books",
        root + "/cents", queries, nprobe = 2, topK = 4, residual = true)
    }
    assert(exRoute.getMessage.contains("OPQ-ROTATED"), exRoute.getMessage)
    // rotation retrain without re-encode: refused
    AnnIndex.publishRotation(spark, root + "/rot",
      Quantize.seededRotation(64, seed = 12))
    val exSkew = intercept[IllegalArgumentException] {
      AnnIndex.serveIvfPqOpqTopK(spark, root + "/codes", root + "/books",
        root + "/rot", root + "/cents", queries, nprobe = 2, topK = 4)
    }
    assert(exSkew.getMessage.contains("VERSION SKEW"), exSkew.getMessage)
  }

  test("SQ8 artifacts: bounds roundtrip exactly; serveSqTopK ≡ in-plan " +
      "sqTopK; a bounds retrain without re-encode is refused (r17)") {
    val emb = graft.sources.Tables.embeddings(spark, sf())
    val (mins, maxs) = Quantize.sqTrain(emb, "embedding", 64)
    val root = freshRoot()
    AnnIndex.publishSqBounds(spark, root + "/bounds", mins, maxs)
    val (bm, bx) = AnnIndex.loadSqBounds(spark, root + "/bounds")
    assert(bm.sameElements(mins) && bx.sameElements(maxs),
      "bounds did not roundtrip bit-exactly")
    val coded = emb.select($"vec_id",
      Quantize.sqCode($"embedding", mins, maxs).as("code"))
    AnnIndex.publishSqCodes(spark, root + "/codes", coded, "vec_id",
      boundsVersion = 0)
    val queries = emb.filter($"vec_id" < 4)
    val served = AnnIndex.serveSqTopK(spark, root + "/bounds",
      root + "/codes", queries, "vec_id", "embedding", topK = 5)
    val inPlan = Quantize.sqTopK(coded, queries, "vec_id", "code",
      "embedding", mins, maxs, k = 5)
    assert(served.collect().toSet == inPlan.collect().toSet)
    // SQ8 refine (r17): candidate IN pushdown + corpus-covering refine
    // ≡ exact brute-force — the same contract as the PQ refine tiers
    val refined = AnnIndex.serveSqTopKRefined(spark, root + "/bounds",
      root + "/codes", emb, "vec_id", "embedding", queries,
      topK = 4, refine = 3)
    val plan = refined.queryExecution.executedPlan.toString
    assert(plan.contains("vec_id IN ") || plan.contains("In(vec_id"),
      s"candidate pushdown missing from the SQ8 refine plan:\n$plan")
    import graft.functions.{VectorFunctions => VF}
    val full = AnnIndex.serveSqTopKRefined(spark, root + "/bounds",
      root + "/codes", emb, "vec_id", "embedding", queries,
      topK = 4, refine = 10000).collect().toSet
    val w = org.apache.spark.sql.expressions.Window
      .partitionBy("query_id").orderBy($"s".desc, $"nn_id")
    val bruteTop = emb.as("c")
      .crossJoin(broadcast(queries.select($"vec_id".as("query_id"),
        $"embedding".cast("array<double>").as("qe"))))
      .filter($"query_id" =!= $"c.vec_id")
      .select($"query_id", $"c.vec_id".as("nn_id"),
        VF.dot($"qe", $"c.embedding".cast("array<double>")).as("s"))
      .withColumn("rnk", row_number().over(w)).filter($"rnk" <= 4)
      .select($"query_id", $"nn_id", round($"s", 6).as("score"),
        $"rnk".cast("long").as("rnk")).collect().toSet
    assert(full == bruteTop,
      "corpus-covering SQ8 refine must equal the exact brute-force top-k")
    // bounds retrain (here: a second publish of shifted bounds) → skew
    AnnIndex.publishSqBounds(spark, root + "/bounds",
      mins.map(_ - 1.0), maxs.map(_ + 1.0))
    val ex = intercept[IllegalArgumentException] {
      AnnIndex.serveSqTopK(spark, root + "/bounds", root + "/codes",
        queries, "vec_id", "embedding", topK = 5)
    }
    assert(ex.getMessage.contains("VERSION SKEW"), ex.getMessage)
  }

  test("exact-refine serving: the float read is CANDIDATE-BOUNDED (static " +
      "IN pushdown), refined recall ≥ ADC recall, and refine=|corpus| " +
      "degenerates to the exact answer (r17)") {
    val emb = graft.sources.Tables.embeddings(spark, sf())
    val cb = Quantize.seededCodebooks(m = 4, k = 8, subDim = 16, seed = 7)
    val root = freshRoot()
    AnnIndex.publishCodebooks(spark, root + "/books", cb)
    val cents = emb.filter($"vec_id" < 8)
    AnnIndex.publishCentroids(spark, root + "/cents", cents)
    AnnIndex.publishIvfPqCodes(spark, root + "/codes", emb, cents, cb)
    val queries = emb.filter($"vec_id" >= 10 && $"vec_id" <= 12)
    val refined = AnnIndex.serveIvfPqTopKRefined(spark, root + "/codes",
      root + "/books", root + "/cents", emb, "vec_id", "embedding",
      queries, nprobe = 2, topK = 4, refine = 3)
    // plan pin: the corpus-float scan carries the candidate IN filter —
    // the refine stage never full-scans the float table
    val plan = refined.queryExecution.executedPlan.toString
    assert(plan.contains("vec_id IN ") || plan.contains("In(vec_id"),
      s"candidate pushdown missing from the refine plan:\n$plan")
    // ground truth: exact top-4 within the probed cells' rows (refine
    // reranks ADC candidates, so truth here = exact order of the ADC
    // candidate universe at maximal refine)
    val adc = AnnIndex.serveIvfPqTopK(spark, root + "/codes",
      root + "/books", root + "/cents", queries, nprobe = 2, topK = 4)
    val full = AnnIndex.serveIvfPqTopKRefined(spark, root + "/codes",
      root + "/books", root + "/cents", emb, "vec_id", "embedding",
      queries, nprobe = 2, topK = 4, refine = 1000)
    def recallVs(got: org.apache.spark.sql.DataFrame,
                 truth: org.apache.spark.sql.DataFrame): Double = {
      val t = truth.select("query_id", "nn_id").collect()
        .map(r => (r.get(0), r.get(1))).toSet
      val g = got.select("query_id", "nn_id").collect()
        .map(r => (r.get(0), r.get(1))).toSet
      (g intersect t).size.toDouble / t.size
    }
    val rAdc = recallVs(adc, full)
    val rRef = recallVs(refined, full)
    assert(rRef >= rAdc,
      s"refined recall $rRef fell below ADC recall $rAdc")
  }

  /** `body`'s result, and the SQL executions started while it runs whose
    * physical plan reads a path under `root`.
    */
  private def executionsScanning[T](root: String)(body: => T): (T, Int) = {
    import scala.jdk.CollectionConverters._
    import org.apache.spark.scheduler.{SparkListener, SparkListenerEvent}
    import org.apache.spark.sql.execution.ui.SparkListenerSQLExecutionStart
    val plans = new java.util.concurrent.ConcurrentLinkedQueue[String]()
    val l = new SparkListener {
      override def onOtherEvent(e: SparkListenerEvent): Unit = e match {
        case s: SparkListenerSQLExecutionStart =>
          plans.add(s.physicalPlanDescription)
        case _ =>
      }
    }
    val sc = spark.sparkContext
    org.apache.spark.graft.ListenerBusSync.drain(sc)
    sc.addSparkListener(l)
    val result = try {
      val r = body
      org.apache.spark.graft.ListenerBusSync.drain(sc)
      r
    } finally sc.removeSparkListener(l)
    (result, plans.asScala.count(_.contains(root)))
  }

  test("refined serving runs stage 1 once: one SQL execution scans the " +
      "codes root per served query batch (IVF-PQ and flat ADC)") {
    val emb = graft.sources.Tables.embeddings(spark, sf())
    val cb = Quantize.seededCodebooks(m = 4, k = 8, subDim = 16, seed = 7)
    val root = freshRoot()
    AnnIndex.publishCodebooks(spark, root + "/books", cb)
    val cents = emb.filter($"vec_id" < 8)
    AnnIndex.publishCentroids(spark, root + "/cents", cents)
    AnnIndex.publishIvfPqCodes(spark, root + "/ivf", emb, cents, cb)
    AnnIndex.publishCodes(spark, root + "/flat",
      Quantize.encode(emb, "embedding", cb), "vec_id", booksVersion = 0)
    val queries = emb.filter($"vec_id" >= 10 && $"vec_id" <= 12)
    val (ivfRows, ivf) = executionsScanning(root + "/ivf") {
      AnnIndex.serveIvfPqTopKRefined(spark, root + "/ivf",
        root + "/books", root + "/cents", emb, "vec_id", "embedding",
        queries, nprobe = 2, topK = 4, refine = 3).collect().length
    }
    val (flatRows, flat) = executionsScanning(root + "/flat") {
      AnnIndex.serveAdcTopKRefined(spark, root + "/books",
        root + "/flat", emb, "vec_id", "embedding", queries,
        topK = 4, refine = 3).collect().length
    }
    assert(ivfRows == 12 && flatRows == 12, s"rows $ivfRows / $flatRows")
    assert(ivf == 1, s"the IVF-PQ codes root was scanned by $ivf executions")
    assert(flat == 1, s"the flat ADC codes root was scanned by $flat executions")
  }

  test("flat-ADC refine: serveAdcTopKRefined carries the candidate IN " +
      "pushdown, and a corpus-covering refine degenerates to the exact " +
      "brute-force answer (r17)") {
    val emb = graft.sources.Tables.embeddings(spark, sf())
    val cb = Quantize.seededCodebooks(m = 4, k = 8, subDim = 16, seed = 7)
    val root = freshRoot()
    AnnIndex.publishCodebooks(spark, root + "/books", cb)
    AnnIndex.publishCodes(spark, root + "/codes",
      Quantize.encode(emb, "embedding", cb), "vec_id", booksVersion = 0)
    val queries = emb.filter($"vec_id" < 4)
    val refined = AnnIndex.serveAdcTopKRefined(spark, root + "/books",
      root + "/codes", emb, "vec_id", "embedding", queries,
      topK = 4, refine = 3)
    val plan = refined.queryExecution.executedPlan.toString
    assert(plan.contains("vec_id IN ") || plan.contains("In(vec_id"),
      s"candidate pushdown missing from the refine plan:\n$plan")
    // refine spanning the corpus ≡ exact brute-force cosine-free top-k
    val full = AnnIndex.serveAdcTopKRefined(spark, root + "/books",
      root + "/codes", emb, "vec_id", "embedding", queries,
      topK = 4, refine = 10000).collect().toSet
    import graft.functions.{VectorFunctions => VF}
    val brute = emb.as("c")
      .crossJoin(broadcast(queries.select($"vec_id".as("query_id"),
        $"embedding".cast("array<double>").as("qe"))))
      .filter($"query_id" =!= $"c.vec_id")
      .select($"query_id", $"c.vec_id".as("nn_id"),
        VF.dot($"qe", $"c.embedding".cast("array<double>")).as("s"))
    val w = org.apache.spark.sql.expressions.Window
      .partitionBy("query_id").orderBy($"s".desc, $"nn_id")
    val bruteTop = brute.withColumn("rnk", row_number().over(w))
      .filter($"rnk" <= 4)
      .select($"query_id", $"nn_id", round($"s", 6).as("score"),
        $"rnk".cast("long").as("rnk")).collect().toSet
    assert(full == bruteTop,
      "corpus-covering refine must equal the exact brute-force top-k")
  }

  test("incremental appendIvfPqCodes: append-batch index ≡ full rebuild " +
      "bit-for-bit, the served answer matches, and a books retrain " +
      "refuses the append (r17)") {
    val emb = graft.sources.Tables.embeddings(spark, sf())
    val cb = Quantize.seededCodebooks(m = 4, k = 8, subDim = 16, seed = 7)
    val cents = emb.filter($"vec_id" < 8)
    val rootInc = freshRoot()
    AnnIndex.publishCodebooks(spark, rootInc + "/books", cb)
    AnnIndex.publishCentroids(spark, rootInc + "/cents", cents)
    AnnIndex.publishIvfPqCodes(spark, rootInc + "/codes",
      emb.filter($"vec_id" % 2 === 0), cents, cb, residual = true)
    AnnIndex.appendIvfPqCodes(spark, rootInc + "/codes",
      rootInc + "/books", rootInc + "/cents",
      emb.filter($"vec_id" % 2 === 1))
    val rootFull = freshRoot()
    AnnIndex.publishCodebooks(spark, rootFull + "/books", cb)
    AnnIndex.publishCentroids(spark, rootFull + "/cents", cents)
    AnnIndex.publishIvfPqCodes(spark, rootFull + "/codes", emb, cents, cb,
      residual = true)
    def rows(root: String) = graft.sources.Layout
      .readCurrent(spark, root + "/codes")
      .select($"nn_id", $"centroid_id", $"code".cast("array<int>"))
      .collect().map(r => (r.getLong(0), r.get(1).toString,
        r.getSeq[Int](2).toList)).toSet
    assert(rows(rootInc) == rows(rootFull),
      "append-built index content diverged from the wholesale rebuild")
    val queries = emb.filter($"vec_id" >= 10 && $"vec_id" <= 12)
    val servedInc = AnnIndex.serveIvfPqTopK(spark, rootInc + "/codes",
      rootInc + "/books", rootInc + "/cents", queries, nprobe = 2,
      topK = 4, residual = true).collect().toSet
    val servedFull = AnnIndex.serveIvfPqTopK(spark, rootFull + "/codes",
      rootFull + "/books", rootFull + "/cents", queries, nprobe = 2,
      topK = 4, residual = true).collect().toSet
    assert(servedInc == servedFull)
    // retrained books: the append must refuse, not mix codeword spaces
    AnnIndex.publishCodebooks(spark, rootInc + "/books",
      Quantize.seededCodebooks(m = 4, k = 8, subDim = 16, seed = 42))
    val ex = intercept[IllegalArgumentException] {
      AnnIndex.appendIvfPqCodes(spark, rootInc + "/codes",
        rootInc + "/books", rootInc + "/cents", emb.filter($"vec_id" < 2))
    }
    assert(ex.getMessage.contains("VERSION SKEW"), ex.getMessage)
  }

  test("publishRefineCorpus: the candidate IN plans FEWER files than the " +
      "raw-parquet twin (range stats + id blooms prune at file grain), " +
      "with bit-identical served results (r18)") {
    val emb = graft.sources.Tables.embeddings(spark, sf())
    val cb = Quantize.seededCodebooks(m = 4, k = 8, subDim = 16, seed = 7)
    val root = freshRoot()
    AnnIndex.publishCodebooks(spark, root + "/books", cb)
    AnnIndex.publishCodes(spark, root + "/codes",
      Quantize.encode(emb, "embedding", cb), "vec_id", booksVersion = 0)
    AnnIndex.publishRefineCorpus(spark, root + "/floats", emb,
      "vec_id", "embedding", files = 64)
    assert(graft.sources.Layout.currentManifest(spark,
      root + "/floats")._2.bloomColumns == Seq("vec_id"))
    // twin: identical floats, identical 64-file range layout, NO manifest
    val rawDir = root + "/raw"
    emb.select($"vec_id", $"embedding")
      .repartitionByRange(64, $"vec_id").write.parquet(rawDir)
    // ONE query → ≤ topK·refine = 15 candidate ids; over 64 range-
    // clustered files the static IN can touch at most 15
    val queries = emb.filter($"vec_id" === 10)
    def serve(corpus: org.apache.spark.sql.DataFrame) =
      AnnIndex.serveAdcTopKRefined(spark, root + "/books", root + "/codes",
        corpus, "vec_id", "embedding", queries, topK = 5, refine = 3)
    val viaRoot = serve(
      graft.sources.Layout.readCurrent(spark, root + "/floats"))
    val viaRaw = serve(spark.read.parquet(rawDir))
    assert(viaRoot.collect().toSet == viaRaw.collect().toSet)
    def plannedFloatFiles(df: org.apache.spark.sql.DataFrame,
                          dir: String): Int = {
      def scansOf(p: org.apache.spark.sql.execution.SparkPlan)
          : Seq[org.apache.spark.sql.execution.FileSourceScanExec] =
        p.collect {
          case s: org.apache.spark.sql.execution.FileSourceScanExec =>
            Seq(s)
          case a: org.apache.spark.sql.execution.adaptive
              .AdaptiveSparkPlanExec => scansOf(a.executedPlan)
          case q: org.apache.spark.sql.execution.adaptive
              .QueryStageExec => scansOf(q.plan)
        }.flatten
      scansOf(df.queryExecution.executedPlan)
        .flatMap(_.selectedPartitions.toPartitionArray)
        .map(_.filePath.toString).distinct.count(_.contains(dir))
    }
    val rootFiles = plannedFloatFiles(viaRoot, "/floats")
    val rawFiles = plannedFloatFiles(viaRaw, "/raw")
    assert(rawFiles == 64, s"raw twin planned $rawFiles files, wanted 64")
    assert(rootFiles <= 15 && rootFiles >= 1,
      s"bloom/range pruning planned $rootFiles of 64 files " +
        "(wanted ≤ 15 — one per candidate id at most)")
  }
}
