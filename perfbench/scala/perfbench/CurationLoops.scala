package perfbench

import scala.collection.mutable
import scala.util.Random

import org.apache.spark.sql.{DataFrame, SparkSession}
import org.apache.spark.sql.functions._

import graft.model.AnnIndex
import graft.ops.{Graph, MinHashDedup, Quantize, SetSimJoin, Similarity}
import graft.sources.Tables

/** The iterative curation operators plus ANN serving; the timed part makes
  * no commits.
  *
  * Inputs (from the seed, written as parquet tables): documents with
  * planted near-duplicate chains, an orders/lineitem pair whose
  * co-purchase graphs feed PageRank (customer-supplier) and k-core
  * (part-part), and clustered embeddings with a batch of query vectors.
  * Setup publishes the IVF-PQ artifacts. The expected answers are
  * computed once per setup, on the driver, at the first check; every
  * pass must reproduce them.
  */
final class CurationLoops(spark: SparkSession, seed: Long) extends Workload {
  import spark.implicits._

  private val Docs = 1000
  private val Vocab = 400
  private val OrdersN = 3000
  private val Customers = 400
  private val Suppliers = 100
  private val Parts = 800
  private val Vectors = 1000
  private val Dim = 64
  private val Clusters = 16
  private val Queries = 16
  private val PageRankIters = 2
  private val CoreK = 30
  private val CoreRounds = 2
  private val TopK = 5

  private var dir = ""
  private var lineitemN = 0
  private var orders: Seq[(Long, Long)] = Nil
  private var lines: Seq[(Long, Long, Long, Int)] = Nil
  private var expected: Option[Expected] = None
  private var wantRecall = -1.0
  private var wantPairs: Set[(Long, Long)] = Set.empty

  private def ann = s"$dir/ann"

  /** What the checks compare against, computed once per setup on first
    * use: outside the setups being timed and outside every op.
    */
  private final case class Expected(truth: Map[Long, Set[Long]], ranks: Map[Long, Double],
                                    core: Map[Long, Long])

  private def want: Expected = expected.getOrElse {
    val qs = spark.read.parquet(s"$dir/queries.parquet")
    val truth = Similarity.bruteForceTopK(Tables.embeddings(spark, dir), qs, k = TopK)
      .select("query_id", "nn_id").collect()
      .groupBy(_.getLong(0)).map { case (q, rs) => q -> rs.map(_.getLong(1)).toSet }
    val e = Expected(truth, pageRankOnDriver(orders, lines), kCoreOnDriver(lines))
    expected = Some(e)
    e
  }

  def rowsPerPass: Long = Docs + OrdersN + lineitemN + Queries

  def sizes: String =
    s"$Docs documents, $OrdersN orders / $lineitemN lineitems " +
      s"(${want.ranks.size} PageRank nodes, ${want.core.size} nodes in the $CoreK-core), " +
      s"$Vectors x $Dim embeddings, $Queries queries per pass, no commits"

  def setup(d: String): Unit = {
    dir = d
    val rnd = new Random(seed * 15485863L + 11)
    val langs = Array("en", "de", "zh")

    // documents: random texts, 10% get an edited copy, some copies are
    // edited again (a chain whose ends need not be similar themselves)
    val docs = mutable.ArrayBuffer.empty[(Long, String, String)]
    def words(n: Int) = Vector.fill(n)(f"w${(math.abs(rnd.nextGaussian()) * Vocab / 3).toInt % Vocab}%03d")
    def edit(ws: Vector[String]) = ws.map(w => if (rnd.nextInt(6) == 0) f"w${rnd.nextInt(Vocab)}%03d" else w)
    while (docs.size < Docs) {
      val lang = langs(rnd.nextInt(3))
      var ws = words(20 + rnd.nextInt(40))
      docs += ((docs.size.toLong, ws.mkString(" "), lang))
      if (rnd.nextInt(10) == 0) {
        val hops = 1 + rnd.nextInt(2)
        (0 until hops).foreach { _ =>
          ws = edit(ws)
          if (docs.size < Docs) docs += ((docs.size.toLong, ws.mkString(" "), lang))
        }
      }
    }
    docs.toSeq.toDF("doc_id", "text", "lang")
      .withColumn("source", concat(lit("src"), (col("doc_id") % 3).cast("string")))
      .withColumn("n_chars", length(col("text")).cast("long"))
      .write.parquet(s"$dir/documents.parquet")

    // orders / lineitem with skewed part popularity
    orders = (0 until OrdersN).map(o => (o.toLong, rnd.nextInt(Customers).toLong))
    lines = orders.flatMap { case (o, _) =>
      (1 to 1 + rnd.nextInt(7)).map { ln =>
        val part = (math.pow(rnd.nextDouble(), 2) * Parts).toLong
        (o, part, rnd.nextInt(Suppliers).toLong, ln)
      }
    }
    lineitemN = lines.size
    expected = None
    orders.toDF("o_orderkey", "o_custkey").write.parquet(s"$dir/orders.parquet")
    lines.toDF("l_orderkey", "l_partkey", "l_suppkey", "l_linenumber")
      .write.parquet(s"$dir/lineitem.parquet")

    // embeddings: Clusters centers plus noise; vec_id < Clusters are the
    // centers' first members and serve as IVF centroids
    val centers = Array.fill(Clusters, Dim)(rnd.nextGaussian())
    val vecs = (0 until Vectors).map { v =>
      val c = centers(v % Clusters)
      (v.toLong, c.map(x => (x + 0.6 * rnd.nextGaussian()).toFloat).toSeq, v % Clusters)
    }
    vecs.toDF("vec_id", "embedding", "label").write.parquet(s"$dir/embeddings.parquet")
    val queries = (0 until Queries).map { q =>
      val base = vecs(rnd.nextInt(Vectors))._2
      (1000000L + q, base.map(x => (x + 0.1 * rnd.nextGaussian()).toFloat))
    }
    queries.toDF("vec_id", "embedding").write.parquet(s"$dir/queries.parquet")

    val emb = Tables.embeddings(spark, dir)
    val cents = emb.filter(col("vec_id") < Clusters)
    AnnIndex.publishCodebooks(spark, s"$ann/books", books)
    AnnIndex.publishCentroids(spark, s"$ann/cents", cents)
    AnnIndex.publishIvfPqCodes(spark, s"$ann/codes", emb, cents, books)
    wantRecall = -1.0
    wantPairs = Set.empty
  }

  private def books = Quantize.seededCodebooks(m = 4, k = 16, subDim = Dim / 4, seed = 7)

  private def serve(): DataFrame = {
    val emb = Tables.embeddings(spark, dir)
    AnnIndex.serveIvfPqTopKRefined(spark, s"$ann/codes", s"$ann/books", s"$ann/cents",
      emb, "vec_id", "embedding", spark.read.parquet(s"$dir/queries.parquet"),
      nprobe = 3, topK = TopK, refine = 3)
  }

  private def recall(rows: Array[org.apache.spark.sql.Row]): Double = {
    val got = rows.groupBy(_.getAs[Long]("query_id"))
      .map { case (q, rs) => q -> rs.map(_.getAs[Long]("nn_id")).toSet }
    val truth = want.truth
    truth.map { case (q, nn) => (got.getOrElse(q, Set.empty) intersect nn).size }.sum
      .toDouble / (truth.size * TopK)
  }

  def pass(i: Int, rec: Recorder): Unit = {
    val pairs = rec.op("ops", "jaccardPairs") {
      SetSimJoin.jaccardPairs(Tables.documents(spark, dir), "doc_id", "text",
        shingleN = 3, threshold = 0.5, blockCol = Some("lang"), dfCap = Some(64L))
        .select("id_a", "id_b").as[(Long, Long)].collect()
    }
    if (wantPairs.isEmpty) wantPairs = pairs.toSet
    rec.check("jaccard pairs", pairs.nonEmpty && pairs.toSet == wantPairs,
      s"${pairs.length} pairs")
    val groups = rec.op("ops", "dupGroups") {
      MinHashDedup.dupGroups(pairs.toSeq.toDF("id_a", "id_b")).as[(Long, Long)].collect()
    }
    val uf = unionFind(pairs)
    rec.check("dup groups", groups.toMap == uf, s"${groups.length} ids vs ${uf.size}")

    val ranks = rec.op("ops", "pageRank") {
      val pairsCp = Tables.lineitem(spark, dir)
        .join(Tables.orders(spark, dir), col("l_orderkey") === col("o_orderkey"))
        .select((col("o_custkey") * 2).as("c"), (col("l_suppkey") * 2 + 1).as("p"))
        .distinct()
      val edges = pairsCp.select(col("c").as("src"), col("p").as("dst"))
        .unionByName(pairsCp.select(col("p").as("src"), col("c").as("dst")))
      Graph.pageRank(edges, iters = PageRankIters, damping = 0.85).as[(Long, Double)].collect()
    }
    val worst = ranks.map { case (n, r) => math.abs(r - want.ranks.getOrElse(n, Double.NaN)) }
      .foldLeft(0.0)((a, b) => if (b.isNaN || a.isNaN) Double.NaN else math.max(a, b))
    rec.check("pagerank", ranks.length == want.ranks.size && worst <= 1e-9, s"max diff $worst")

    val core = rec.op("ops", "kCore") {
      val li = Tables.lineitem(spark, dir).select(col("l_orderkey").as("ok"), col("l_partkey").as("pk"))
      val edges = li.join(li.select(col("ok"), col("pk").as("pk2")), "ok")
        .filter(col("pk") < col("pk2"))
        .select(col("pk").as("src"), col("pk2").as("dst"))
      Graph.kCore(edges, k = CoreK, rounds = CoreRounds).as[(Long, Long)].collect()
    }
    rec.check("k-core", core.toMap == want.core, s"${core.length} vs ${want.core.size} nodes")

    val served = rec.op("model", "serve") { serve().collect() }
    val r = recall(served)
    rec.sample("model.recall_at_k", r)
    // the first pass fixes the seed's recall; every later pass must repeat it
    if (wantRecall < 0) wantRecall = r
    rec.check("ann recall", r > 0 && r == wantRecall, s"recall $r want $wantRecall")
  }

  private def unionFind(pairs: Array[(Long, Long)]): Map[Long, Long] = {
    val parent = mutable.HashMap.empty[Long, Long]
    def find(x: Long): Long = {
      val p = parent.getOrElseUpdate(x, x)
      if (p == x) x else { val r = find(p); parent(x) = r; r }
    }
    pairs.foreach { case (a, b) =>
      val (ra, rb) = (find(a), find(b))
      if (ra != rb) { parent(math.max(ra, rb)) = math.min(ra, rb) }
    }
    parent.keys.map(x => x -> find(x)).toMap
  }

  /** Plain power iteration over the customer-supplier graph. */
  private def pageRankOnDriver(orders: Seq[(Long, Long)],
                               lines: Seq[(Long, Long, Long, Int)]): Map[Long, Double] = {
    val cust = orders.toMap
    val und = lines.map { case (o, _, s, _) => (cust(o) * 2, s * 2 + 1) }.distinct
    val edges = und ++ und.map(_.swap)
    val nodes = edges.flatMap { case (a, b) => Seq(a, b) }.distinct
    val deg = edges.groupBy(_._1).map { case (k, v) => k -> v.size }
    val n = nodes.size.toDouble
    var rank = nodes.map(_ -> 1.0 / n).toMap
    (0 until PageRankIters).foreach { _ =>
      val dangle = nodes.filterNot(deg.contains).map(rank).sum
      val in = mutable.HashMap.empty[Long, Double].withDefaultValue(0.0)
      edges.foreach { case (s, t) => in(t) += rank(s) / deg(s) }
      rank = nodes.map(v => v -> ((1 - 0.85) / n + 0.85 * (in(v) + dangle / n))).toMap
    }
    rank.map { case (k, v) => k -> BigDecimal(v).setScale(10, BigDecimal.RoundingMode.HALF_UP).toDouble }
  }

  /** Peel every node under degree `CoreK` at once, `CoreRounds` times at
    * most; a survivor's degree is counted within the previous round's set.
    */
  private def kCoreOnDriver(lines: Seq[(Long, Long, Long, Int)]): Map[Long, Long] = {
    val edges = lines.groupBy(_._1).values.flatMap { ls =>
      val ps = ls.map(_._2)
      for (a <- ps; b <- ps if a < b) yield (a, b)
    }.toSet
    def degrees(alive: Set[Long]) = edges.toSeq
      .filter { case (a, b) => alive(a) && alive(b) }
      .flatMap { case (a, b) => Seq(a, b) }.groupBy(identity).map { case (k, v) => k -> v.size.toLong }
    val deg0 = degrees(edges.flatMap { case (a, b) => Seq(a, b) })
    var keep = deg0.filter(_._2 >= CoreK)
    var dropped = keep.size < deg0.size
    var round = 1
    while (round < CoreRounds && dropped) {
      val within = degrees(keep.keySet)
      val updated = keep.keys.map(k => k -> within.getOrElse(k, 0L)).toMap
      keep = updated.filter(_._2 >= CoreK)
      dropped = keep.size < updated.size
      round += 1
    }
    keep
  }
}
