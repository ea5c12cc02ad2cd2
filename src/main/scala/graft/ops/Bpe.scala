package graft.ops

import org.apache.spark.sql.{Column, DataFrame, SparkSession}
import org.apache.spark.sql.expressions.Window
import org.apache.spark.sql.functions._

import graft.sources.Layout
import graft.util.Caches, Caches.Round

/** Byte-pair-encoding merge-table TRAINING and APPLICATION (Sennrich et
  * al., "Neural Machine Translation of Rare Words with Subword Units",
  * ACL 2016) — the tokenizer-construction half a training-data pipeline
  * runs before any token count, pack or mixture decision is meaningful:
  * learn the `rounds` most frequent adjacent symbol pairs from the
  * corpus, then segment text by replaying those merges in order.
  *
  * SCALE SHAPE — the defining trick is that BPE training never touches
  * the corpus after one tokenize pass: it operates on the WORD-FREQUENCY
  * table (`(word, freq)` — vocabulary-bounded, millions of rows at 100 TB
  * of text, not trillions), so each merge round is a handful of
  * vocab-sized shuffles plus a ONE-ROW argmax collect (bounded driver
  * metadata, the [[Quantize.trainCodebooks]] class). Application is the
  * same per-word replay joined back to the corpus token stream — the
  * corpus pays one explode + one broadcast-ish join per use, never a
  * per-round pass.
  *
  * Everything is deterministic and oracle-replayable: the argmax breaks
  * ties (count DESC, left ASC, right ASC); the greedy left-to-right
  * non-overlapping merge pass is resolved with windows (runs of
  * consecutive match positions — only possible when left == right — take
  * every OTHER position from the run start, exactly the sequential
  * scanner's behavior), so the unrolled-CTE oracle (q220/q229 pattern)
  * computes the identical segmentation.
  */
object Bpe {

  /** `(word, freq)` over the house whitespace tokens — the vocabulary
    * table every training round operates on.
    *
    * `cjkCharSplit` is the char-level round-0 fallback for UNSEGMENTED
    * scripts (r18): pure whitespace tokenization makes a CJK run one
    * giant "word" per distinct run — the vocabulary table stops being
    * vocabulary-bounded (every distinct sentence is a distinct word) and
    * BPE/fertility numbers for those groups mislead. The standard fix
    * (BERT's WordPiece normalization; SentencePiece's char fallback) is
    * to make each unsegmented-script character its own round-0 token —
    * see [[graft.functions.TextFunctions.tokensCjkSplit]].
    */
  def wordCounts(docs: DataFrame, textCol: String,
                 cjkCharSplit: Boolean = false): DataFrame = {
    val toks =
      if (cjkCharSplit)
        graft.functions.TextFunctions.tokensCjkSplit(col(textCol))
      else graft.functions.TextFunctions.tokens(col(textCol))
    docs.select(explode(toks).as("word"))
      .filter(col("word") =!= "")
      .groupBy("word").agg(count(lit(1)).as("freq"))
  }

  /** The end-of-word marker symbol (Sennrich 2016's `</w>`): appended as
    * its own round-0 symbol when `eow = true`, it makes word-FINAL
    * subwords distinct vocabulary entries ("er" inside a word vs "er</w>"
    * ending one), which is what lets a detokenizer reconstruct word
    * boundaries from a flat token stream. A raw word CAN contain the
    * literal marker substring (markup text) — and merges could even
    * assemble a real "</w>" symbol from the adjacent chars '<','/','w','>'
    * (only possible when the word contains the substring) — either way
    * colliding with the boundary marker and breaking detokenize, so
    * [[charSyms]] STRIPS the substring from the input word in eow mode
    * (a documented normalization: the roundtrip is exact for marker-free
    * text; marker substrings drop on ingest).
    */
  val EowMarker = "</w>"

  /** A word's round-0 symbol sequence: its characters, in order; with
    * `eow`, [[EowMarker]] appended as a final symbol — after stripping
    * any literal marker substring from the word (see [[EowMarker]]; a
    * word that was ONLY the marker contributes just the boundary symbol).
    */
  def charSyms(word: Column, eow: Boolean = false): Column =
    if (!eow)
      transform(sequence(lit(1), length(word)), i => word.substr(i, lit(1)))
    else {
      val w = regexp_replace(word,
        java.util.regex.Pattern.quote(EowMarker), "")
      // greatest(len, 1) keeps sequence() ascending when the strip left an
      // empty word (sequence(1, 0) would run DESCENDING and fabricate
      // symbols); the lone out-of-range substr yields "" and filters out
      val chars = filter(
        transform(sequence(lit(1), greatest(length(w), lit(1))),
          i => w.substr(i, lit(1))),
        s => s =!= "")
      concat(chars, array(lit(EowMarker)))
    }

  /** ONE greedy left-to-right merge pass of pair (a, b) over `symsCol`,
    * non-overlapping exactly like the sequential BPE scanner: among the
    * match positions of one key, runs of CONSECUTIVE positions (possible
    * only when a == b, e.g. "aaaa") take every other position from the
    * run start; a taken position emits the merged symbol and consumes
    * its right neighbor. Per-key windows only (word- or doc-grain — the
    * bounded-grain class), no corpus-grain state.
    *
    * CONTRACT: `keyCols` must uniquely key the rows — two rows sharing a
    * key would interleave their exploded positions under one window and
    * merge across each other. Every internal caller guarantees it
    * (trainMerges groups by word; bpeTokenCounts segments DISTINCT
    * words); external [[segmentWords]] callers own the same guarantee.
    */
  private[graft] def applyMerge(seg: DataFrame, keyCols: Seq[String],
                                a: String, b: String): DataFrame = {
    val ks = keyCols.map(col)
    val others = seg.columns.filterNot(_ == "syms").map(col).toSeq
    val ex = seg.select(
      others :+ posexplode(col("syms")).as(Seq("__pos", "__sym")): _*)
    val wOrd = Window.partitionBy(ks: _*).orderBy(col("__pos"))
    val m = ex.withColumn("__nxt", lead(col("__sym"), 1).over(wOrd))
    val hits = m.filter(col("__sym") === lit(a) && col("__nxt") === lit(b))
      .withColumn("__rn", row_number().over(wOrd))
      .withColumn("__grp", col("__pos") - col("__rn"))
    val wGrp = Window.partitionBy(ks :+ col("__grp"): _*)
    val taken = hits
      .withColumn("__start", min(col("__pos")).over(wGrp))
      .filter(((col("__pos") - col("__start")) % 2) === 0)
      .select(ks :+ col("__pos"): _*)
    val tk = taken.withColumn("__tk", lit(true))
    val cons = taken
      .select(ks :+ (col("__pos") + 1).as("__pos"): _*)
      .withColumn("__cons", lit(true))
    m.join(tk, keyCols :+ "__pos", "left")
      .join(cons, keyCols :+ "__pos", "left")
      .filter(col("__cons").isNull)
      .withColumn("__out",
        when(col("__tk"), lit(a + b)).otherwise(col("__sym")))
      .groupBy(others: _*)
      .agg(transform(
        array_sort(collect_list(struct(col("__pos"), col("__out")))),
        s => s.getField("__out")).as("syms"))
  }

  /** Learn `rounds` BPE merges from the corpus: per round, the
    * most-frequent adjacent symbol pair over the word-frequency table
    * (freq-weighted; ties break (count DESC, left ASC, right ASC)) is
    * recorded and applied. Stops early if no pair remains (every word
    * fully merged). Each round's segmentation is cut and the previous
    * round's released — lineage stays one round deep, the graph-loop
    * discipline.
    *
    * @return (round, left, right, merged, pair_count) — `rounds` rows
    */
  def trainMerges(docs: DataFrame, textCol: String, rounds: Int,
                  eow: Boolean = false,
                  cjkCharSplit: Boolean = false): DataFrame = {
    val spark = docs.sparkSession
    import spark.implicits._
    require(rounds >= 1, "trainMerges: rounds must be ≥ 1")
    // a cut, NOT a persist: applyMerge's plan references its
    // input ~4 times (explode, taken, consumed, rebuild), so an
    // un-truncated LOGICAL plan grows ~4× per round and the OPTIMIZER —
    // not execution — goes exponential (measured 56 s for 6 rounds with
    // persist-only vs ~2 s checkpointed, on a 31-word vocabulary). The
    // cut also takes the corpus tokenize out of every later round.
    val seg0 = Caches.cut(wordCounts(docs, textCol, cjkCharSplit)
      .withColumn("syms", charSyms(col("word"), eow)))
    val out = scala.collection.mutable.ArrayBuffer
      .empty[(Long, String, String, String, Long)]
    Caches.iterate(seg0, rounds) { (seg, r) =>
      val pairs = seg.select(col("freq"),
          slice(col("syms"), lit(1), size(col("syms")) - 1).as("__l"),
          slice(col("syms"), lit(2), size(col("syms")) - 1).as("__r"))
        .select(col("freq"),
          explode(arrays_zip(col("__l"), col("__r"))).as("__p"))
        .select(col("freq"), col("__p.__l").as("a"), col("__p.__r").as("b"))
      // ONE row to the driver — the argmax is bounded metadata
      val best = pairs.groupBy(col("a"), col("b"))
        .agg(sum(col("freq")).as("c"))
        .orderBy(col("c").desc, col("a"), col("b"))
        .limit(1).collect()
      if (best.isEmpty) Round(seg, fixpoint = true)
      else {
        val a = best(0).getString(0)
        val b = best(0).getString(1)
        val c = best(0).getLong(2)
        out += ((r.toLong, a, b, a + b, c))
        Round(Caches.cut(applyMerge(seg, Seq("word"), a, b)))
      }
    }
    out.toSeq.toDF("round", "lhs", "rhs", "merged", "pair_count")
  }

  /** Learn `rounds` BPE merges DRIVER-SIDE over the collected
    * word-frequency table — the production-vocabulary trainer (r18). The
    * distributed [[trainMerges]] is the oracle tier: correct and
    * cross-engine-replayable, but each merge is one Spark job + a 1-row
    * collect, so a 32k-merge production vocabulary means 32k sequential
    * driver rounds of pure scheduling overhead. This path collects the
    * `(word, freq)` table ONCE — vocabulary-bounded driver metadata by
    * this file's own scale argument (millions of rows at 100 TB of text,
    * not trillions; the same boundedness contract as
    * [[graft.ops.Quantize.trainCodebooks]]'s sampled floats) — and runs
    * the classic in-memory algorithm: incremental pair-count maintenance
    * (a merge re-counts only the words containing its pair) plus a
    * lazy-deletion max-heap for the argmax, so per-round cost is
    * O(affected words), not O(vocabulary). Identical output to
    * [[trainMerges]] by construction — same greedy left-to-right
    * non-overlapping apply, same (count DESC, lhs, rhs) tie-break with
    * code-point string order (= the engines' UTF-8 binary order; Java's
    * UTF-16 `compareTo` would disagree on supplementary characters) —
    * BpeSpec pins the equivalence, plain and eow. Measured (SCALE.md):
    * ~3 orders of magnitude more merges/sec than the per-round job loop.
    *
    * @return (round, lhs, rhs, merged, pair_count) — ≤ `rounds` rows
    */
  def trainMergesLocal(docs: DataFrame, textCol: String, rounds: Int,
                       eow: Boolean = false,
                       cjkCharSplit: Boolean = false): DataFrame = {
    val spark = docs.sparkSession
    import spark.implicits._
    require(rounds >= 1, "trainMergesLocal: rounds must be ≥ 1")
    // ONE bounded collect: the vocabulary-sized (word, freq) table — the
    // whole point of the BPE scale shape is that this is driver metadata
    val vocab = wordCounts(docs, textCol, cjkCharSplit)
      .collect().map(r => (r.getString(0), r.getLong(1)))
    trainLocal(vocab, rounds, eow)
      .toDF("round", "lhs", "rhs", "merged", "pair_count")
  }

  /** [[trainMergesLocal]]'s in-memory core, exposed for the spec. */
  private[graft] def trainLocal(
      vocab: Array[(String, Long)], rounds: Int,
      eow: Boolean): Seq[(Long, String, String, String, Long)] = {
    import scala.collection.mutable
    // round-0 symbols, exactly charSyms: code-point chars (Spark substr
    // counts characters, not UTF-16 units); eow strips the marker
    // substring then appends the marker symbol
    def syms0(word: String): Array[String] = {
      val w = if (eow) word.replace(EowMarker, "") else word
      val chars = w.codePoints().toArray
        .map(cp => new String(Character.toChars(cp)))
      if (eow) chars :+ EowMarker else chars
    }
    val words: Array[Array[String]] = vocab.map(v => syms0(v._1))
    val freqs: Array[Long] = vocab.map(_._2)

    val counts = mutable.HashMap.empty[(String, String), Long]
    // pair → indices of words that contained it when last counted. A
    // compact append-only buffer, NOT a BitSet: BitSets are dense (bytes
    // ∝ max index), and one per distinct pair over a production
    // vocabulary is O(|pairs|·|vocab|) memory — measured OOM at 200k
    // words. Duplicate/stale entries are fine (the apply loop dedups per
    // merge and no-ops words that moved past the pair); total appended
    // entries are bounded by total counting work.
    val where =
      mutable.HashMap.empty[(String, String), mutable.ArrayBuffer[Int]]
    val touched = mutable.HashSet.empty[(String, String)]
    def addPairs(idx: Int, syms: Array[String], sign: Long): Unit = {
      var i = 0
      while (i + 1 < syms.length) {
        val p = (syms(i), syms(i + 1))
        val c = counts.getOrElse(p, 0L) + sign * freqs(idx)
        if (c <= 0L) counts.remove(p) else counts(p) = c
        if (sign > 0L)
          where.getOrElseUpdate(p, mutable.ArrayBuffer.empty[Int]) += idx
        touched += p
        i += 1
      }
    }
    words.indices.foreach(i => addPairs(i, words(i), 1L))

    // lazy-deletion max-heap: ties break (count DESC, lhs ASC, rhs ASC)
    // in CODE-POINT order; entries go stale when a count moves — a popped
    // entry is valid iff it matches the live count
    def cpCompare(x: String, y: String): Int = {
      val n = math.min(x.length, y.length)
      var i = 0
      while (i < n) {
        val cx = x.codePointAt(i)
        val cy = y.codePointAt(i)
        if (cx != cy) return Integer.compare(cx, cy)
        i += Character.charCount(cx)
      }
      Integer.compare(x.length, y.length)
    }
    val ord = new Ordering[(Long, String, String)] {
      def compare(a: (Long, String, String),
                  b: (Long, String, String)): Int = {
        val c = java.lang.Long.compare(a._1, b._1)
        if (c != 0) c
        else {
          val l = cpCompare(b._2, a._2) // smaller lhs wins the tie
          if (l != 0) l else cpCompare(b._3, a._3)
        }
      }
    }
    val heap = mutable.PriorityQueue.empty[(Long, String, String)](ord)
    counts.foreach { case ((a, b), c) => heap.enqueue((c, a, b)) }

    // the sequential greedy scanner — the semantics applyMerge's window
    // algebra reproduces distributedly
    def applyLocal(syms: Array[String], a: String,
                   b: String): Array[String] = {
      val out = mutable.ArrayBuffer.empty[String]
      var i = 0
      while (i < syms.length) {
        if (i + 1 < syms.length && syms(i) == a && syms(i + 1) == b) {
          out += (a + b); i += 2
        } else { out += syms(i); i += 1 }
      }
      out.toArray
    }

    val out = mutable.ArrayBuffer.empty[(Long, String, String, String, Long)]
    var r = 1
    var dry = false
    while (r <= rounds && !dry) {
      var best: (Long, String, String) = null
      while (best == null && heap.nonEmpty) {
        val cand = heap.dequeue()
        if (counts.get((cand._2, cand._3)).contains(cand._1)) best = cand
      }
      if (best == null) dry = true
      else {
        val (c, a, b) = best
        out += ((r.toLong, a, b, a + b, c))
        touched.clear()
        // only words CONTAINING (a, b) re-count — `where` may hold stale
        // or duplicate indices (the word merged past the pair earlier, or
        // was recounted several times); the per-merge BitSet dedups and
        // the unchanged-array check no-ops the stale ones
        where.remove((a, b)).foreach { idxs =>
          val seen = new mutable.BitSet(words.length)
          idxs.foreach { idx =>
            if (seen.add(idx)) {
              val next = applyLocal(words(idx), a, b)
              if (next.length != words(idx).length) {
                addPairs(idx, words(idx), -1L)
                addPairs(idx, next, 1L)
                words(idx) = next
              }
            }
          }
        }
        // one full greedy pass leaves no (a, b) adjacency behind (a
        // surviving one would imply a consumed symbol re-appearing), so
        // dropping its where-set is safe; every touched pair re-enqueues
        // its LIVE count
        counts.remove((a, b))
        touched.foreach { p =>
          counts.get(p).foreach(c2 => heap.enqueue((c2, p._1, p._2)))
        }
        r += 1
      }
    }
    out.toSeq
  }

  /** Segment a word table with an ORDERED merge list: round-0 chars,
    * then each merge replayed in training order — the application half
    * of the tokenizer. `df` keeps its other columns. `wordCol` values
    * must be UNIQUE in `df` ([[applyMerge]]'s keying contract —
    * segment the distinct vocabulary, then join counts back, as
    * [[bpeTokenCounts]] does).
    */
  def segmentWords(df: DataFrame, wordCol: String,
                   merges: Seq[(String, String)],
                   eow: Boolean = false): DataFrame =
    // ONE codegen'd projection (r18 perf): segmenting a word is a pure
    // function of (word, merge table), so the serve path runs the greedy
    // scan natively — [[graft.functions.expressions.BpeSegmentWord]],
    // spec-pinned ≡ the charSyms + per-merge [[applyMerge]] window
    // replay this method used to fold (that replay paid ~3 shuffles and
    // an eager checkpoint PER MERGE over the vocabulary frame; it
    // remains the distributed TRAINING tier's shape in [[trainMerges]],
    // where the per-round argmax is corpus-grain state)
    df.withColumn("syms",
      graft.functions.expressions.BpeSegmentWord(col(wordCol), merges, eow))

  /** BPE token count per document: tokenize, segment the DISTINCT words
    * once (vocabulary-bounded work), join the per-word symbol counts
    * back to the token stream, sum per doc. The corpus is touched by one
    * explode + one join — never by the per-merge replay.
    *
    * @return (idCol, n_tokens, n_bpe_tokens)
    */
  def bpeTokenCounts(docs: DataFrame, idCol: String, textCol: String,
                     merges: Seq[(String, String)],
                     eow: Boolean = false,
                     cjkCharSplit: Boolean = false): DataFrame = {
    val tok =
      if (cjkCharSplit)
        graft.functions.TextFunctions.tokensCjkSplit(col(textCol))
      else graft.functions.TextFunctions.tokens(col(textCol))
    val toks = docs.select(col(idCol), explode(tok).as("word"))
      .filter(col("word") =!= "")
    val perWord = segmentWords(toks.select(col("word")).distinct(),
        "word", merges, eow)
      .select(col("word"), size(col("syms")).cast("long").as("__n"))
    // vocabulary-bounded broadcast keeps the corpus token stream
    // unshuffled; a vocabulary past the executor broadcast budget
    // (hundreds of millions of distinct words) would drop the hint and
    // take the word-partitioned shuffle join instead
    toks.join(broadcast(perWord), "word")
      .groupBy(col(idCol))
      .agg(count(lit(1)).as("n_tokens"), sum(col("__n")).as("n_bpe_tokens"))
  }

  /** Tokenizer FERTILITY per group (BPE tokens per whitespace word) —
    * the cross-corpus transfer readout: a tokenizer trained on one slice
    * and applied to another shows where it fragments (high fertility =
    * the merge table never saw this group's vocabulary — the budget
    * number a multilingual mixture decision runs on). Composition of
    * [[bpeTokenCounts]] + one group-grain aggregate; the ratio is a
    * micro-floored double of exact longs (engine-stable).
    *
    * @return (groupCol, n_words, n_bpe_tokens, fertility_micro)
    */
  def fertility(docs: DataFrame, idCol: String, textCol: String,
                groupCol: String, merges: Seq[(String, String)]): DataFrame =
    bpeTokenCounts(docs, idCol, textCol, merges)
      .join(docs.select(col(idCol), col(groupCol)), Seq(idCol))
      .groupBy(col(groupCol))
      .agg(sum(col("n_tokens")).as("n_words"),
        sum(col("n_bpe_tokens")).as("n_bpe_tokens"))
      // n_words ≥ 1 by construction: a doc with no tokens never reaches
      // bpeTokenCounts' inner join, so no ANSI division guard is needed
      .withColumn("fertility_micro",
        floor(col("n_bpe_tokens").cast("double") /
          col("n_words").cast("double") * lit(1e6) + lit(0.5)).cast("long"))

  /** The tokenizer's VOCABULARY with stable integer ids (r18): every
    * distinct symbol the merge table produces over this corpus's words —
    * round-0 characters plus merged subwords — id'd by dense rank in
    * code-point order (= both engines' binary string order, so the
    * mapping is oracle-replayable with a plain ROW_NUMBER). Model
    * training consumes TOKEN IDS, not symbol strings — this is the table
    * that turns the merge artifact into a model-ready encoder. The
    * global-order window runs at VOCABULARY grain (the adjudicated
    * bounded-grain class — symbols, not corpus rows).
    *
    * @param segmented (word, syms) — [[segmentWords]] output
    * @return (symbol, token_id) — token_id is 0-based, dense
    */
  def vocabOf(segmented: DataFrame): DataFrame = {
    // TWO-LEVEL dense rank instead of one unpartitioned ROW_NUMBER: at a
    // production vocabulary (200k symbols) the global-order window moved
    // every symbol to ONE task. UTF-8 is order-preserving, so bucketing
    // by the first code point is order-ALIGNED with the full binary
    // string order: global rank = (#symbols in strictly-smaller buckets)
    // + rank within the bucket. The only remaining unpartitioned window
    // runs at BUCKET grain (≤ distinct first code points), and the
    // per-symbol rank is a shuffle-partitioned window. Ids are
    // bit-identical to the single-window form (BpeSpec + oracle pin).
    val syms = segmented.select(explode(col("syms")).as("symbol"))
      .distinct()
      .withColumn("__b", substring(col("symbol"), 1, 1))
    val offs = syms.groupBy(col("__b")).agg(count(lit(1)).as("__n"))
      .withColumn("__off", coalesce(
        sum(col("__n")).over(Window.orderBy(col("__b"))
          .rowsBetween(Window.unboundedPreceding, -1)), lit(0L)))
      .select(col("__b"), col("__off"))
    syms.join(broadcast(offs), "__b")
      .withColumn("token_id", (col("__off") +
        row_number().over(
          Window.partitionBy(col("__b")).orderBy(col("symbol"))) - 1)
        .cast("long"))
      .select(col("symbol"), col("token_id"))
  }

  /** Encode the corpus to TOKEN-ID SEQUENCES — the terminal output a
    * pretraining pipeline materializes: per doc, the ordered stream of
    * vocabulary ids ([[vocabOf]]) of the BPE segmentation. Exploded form
    * `(idCol, pos, token_id)` — pos is the doc-wide 0-based stream
    * position (per-DOC window, the bounded-grain class). The corpus pays
    * one tokenize + two vocabulary-bounded broadcast joins; the per-merge
    * replay touches only the DISTINCT words ([[bpeTokenCounts]]'s
    * contract).
    */
  def encodeIds(docs: DataFrame, idCol: String, textCol: String,
                merges: Seq[(String, String)],
                eow: Boolean = false,
                cjkCharSplit: Boolean = false): DataFrame =
    encodeStream(docs, idCol, textCol, merges, None, eow, cjkCharSplit)

  /** Reserved token id for symbols OUTSIDE a fixed vocabulary
    * ([[encodeIdsWith]]) — the conventional `<unk>` slot. Negative, so it
    * can never collide with [[vocabOf]]'s dense non-negative ids.
    */
  val UnkId: Long = -1L

  /** Encode AGAINST A FIXED vocabulary — the cross-corpus serving form
    * [[publishVocab]] exists for. [[encodeIds]] derives its id map from
    * the corpus being encoded, which is correct at train time but wrong
    * at serve time: two corpora (or the same corpus after one new symbol
    * appears) get DIFFERENT id maps, silently re-labeling every stored
    * sequence. Here the vocabulary is the pinned artifact
    * ([[loadVocab]]); symbols it does not cover id as [[UnkId]] via a
    * LEFT join — an inner join would silently DROP them from the stream,
    * shifting every later position. Same cost shape as [[encodeIds]]:
    * one tokenize + two vocabulary-bounded broadcast joins.
    */
  def encodeIdsWith(docs: DataFrame, idCol: String, textCol: String,
                    merges: Seq[(String, String)], vocab: DataFrame,
                    eow: Boolean = false,
                    cjkCharSplit: Boolean = false): DataFrame =
    encodeStream(docs, idCol, textCol, merges, Some(vocab), eow,
      cjkCharSplit)

  private def encodeStream(docs: DataFrame, idCol: String,
                           textCol: String,
                           merges: Seq[(String, String)],
                           vocab: Option[DataFrame], eow: Boolean,
                           cjkCharSplit: Boolean): DataFrame = {
    val tok =
      if (cjkCharSplit)
        graft.functions.TextFunctions.tokensCjkSplit(col(textCol))
      else graft.functions.TextFunctions.tokens(col(textCol))
    val toks = docs.select(col(idCol),
        posexplode(tok).as(Seq("__wpos", "word")))
      .filter(col("word") =!= "")
    val segd = segmentWords(toks.select(col("word")).distinct(), "word",
      merges, eow)
    val wDoc = Window.partitionBy(col(idCol))
      .orderBy(col("__wpos"), col("__spos"))
    val syms = toks.join(broadcast(segd), "word")
      .select(col(idCol), col("__wpos"),
        posexplode(col("syms")).as(Seq("__spos", "symbol")))
    val idd = vocab match {
      case None => syms.join(broadcast(vocabOf(segd)), "symbol")
      case Some(v) => syms
        .join(broadcast(v.select(col("symbol"),
          col("token_id").cast("long").as("__vid"))),
          Seq("symbol"), "left")
        .withColumn("token_id", coalesce(col("__vid"), lit(UnkId)))
    }
    idd.withColumn("pos", (row_number().over(wDoc) - 1).cast("long"))
      .select(col(idCol), col("pos"), col("token_id"))
  }

  /** The corpus's vocabulary under a merge table: segment the distinct
    * words and id every produced symbol ([[vocabOf]]). This is the table
    * [[publishVocab]] versions at train time so [[encodeIdsWith]] can
    * encode any later corpus without re-deriving ids.
    */
  def corpusVocab(docs: DataFrame, textCol: String,
                  merges: Seq[(String, String)],
                  eow: Boolean = false,
                  cjkCharSplit: Boolean = false): DataFrame =
    // rides wordCounts (same tokenization branch as every other corpus
    // entry point — ONE place to drift) — its group-by IS the distinct
    // word set; the freq column is ignored by vocabOf
    vocabOf(segmentWords(wordCounts(docs, textCol, cjkCharSplit),
      "word", merges, eow))

  /** Symbol-frequency COVERAGE curve of a tokenizer over a corpus: per
    * vocabulary symbol, its corpus frequency (word frequency × its
    * occurrences in that word's segmentation), frequency rank, and the
    * cumulative share of all token occurrences covered by ranks ≤ this
    * one — the standard diagnostic for CHOOSING a vocabulary size (stop
    * where the curve flattens; a long flat tail means merges stopped
    * paying). The corpus is touched once ([[wordCounts]]); everything
    * after runs at vocabulary grain. The rank/cumsum window is global-
    * ordered (one partition) by construction — measured 0.4–0.5 s warm at
    * the 200k-symbol production shape (receipt in OPTIMIZATION_r19.md,
    * SCALE.md §r19), so the serialization is bounded; the grand total rides a
    * broadcast 1-row aggregate instead of a second whole-frame window.
    */
  def vocabCoverage(docs: DataFrame, textCol: String,
                    merges: Seq[(String, String)],
                    eow: Boolean = false,
                    cjkCharSplit: Boolean = false): DataFrame = {
    val symf = segmentWords(wordCounts(docs, textCol, cjkCharSplit),
        "word", merges, eow)
      .select(col("freq"), explode(col("syms")).as("symbol"))
      .groupBy("symbol").agg(sum(col("freq")).as("freq"))
    val wR = Window.orderBy(col("freq").desc, col("symbol"))
    val wCum = wR.rowsBetween(Window.unboundedPreceding, 0)
    // the grand total as a broadcast 1-row aggregate, NOT a whole-frame
    // window (the unbounded-both-ways window moved the vocabulary to a
    // single partition a second time for a value one map-side-combined
    // aggregate produces)
    val tot = symf.agg(sum(col("freq")).as("__tot"))
    symf.crossJoin(broadcast(tot))
      .withColumn("rank", row_number().over(wR).cast("long"))
      .withColumn("cum_micro",
        floor(sum(col("freq")).over(wCum).cast("double") /
            col("__tot").cast("double") * lit(1e6) +
            lit(0.5))
          .cast("long"))
      .select(col("symbol"), col("freq"), col("rank"), col("cum_micro"))
  }

  /** Per-doc OOV accounting over a fixed-vocab id stream
    * ([[encodeIdsWith]]): id count, [[UnkId]] count, and the
    * micro-floored OOV rate — the drift gauge a pinned tokenizer needs
    * over a moving corpus (a rising rate means the vocabulary no longer
    * covers the data and a retrain/version bump is due). Exact integer
    * algebra; one map-side-combinable aggregate.
    */
  def oovStats(encoded: DataFrame, idCol: String): DataFrame =
    encoded.groupBy(col(idCol)).agg(
      count(lit(1)).as("n_ids"),
      sum(when(col("token_id") === UnkId, lit(1L)).otherwise(lit(0L)))
        .as("n_oov"))
      .withColumn("oov_micro",
        floor(col("n_oov").cast("double") / col("n_ids").cast("double")
          * lit(1e6) + lit(0.5)).cast("long"))

  /** Publish [[vocabOf]]'s table as a versioned artifact (the same
    * tokenizers-are-models discipline as [[publishMerges]]: id drift
    * silently re-labels every stored sequence).
    */
  def publishVocab(spark: SparkSession, root: String,
                   vocab: DataFrame): String =
    Layout.publishVersion(spark, root,
      vocab.select(col("symbol"), col("token_id").cast("long")))

  /** Load the LIVE vocabulary back ([[publishVocab]]'s inverse) —
    * (symbol, token_id), the fixed id map [[encodeIdsWith]] serves
    * against.
    */
  def loadVocab(spark: SparkSession, root: String): DataFrame =
    Layout.readCurrent(spark, root)
      .select(col("symbol"), col("token_id").cast("long"))

  /** Detokenize an eow-marked BPE token stream back to text: concatenate
    * the tokens and turn each [[EowMarker]] into a word boundary — the
    * inverse [[EowMarker]] exists to make possible (an unmarked stream
    * cannot tell "ing" + "est" across a boundary from within one word).
    * Pure expression: one `concat_ws` + one `replace` + a trim, no
    * shuffle. Exact inverse of eow segmentation by construction
    * (BpeSpec pins the roundtrip).
    */
  def detokenize(tokens: Column): Column =
    rtrim(regexp_replace(concat_ws("", tokens),
      java.util.regex.Pattern.quote(EowMarker), " "))

  /** Publish a trained merge table as a VERSIONED artifact (the
    * [[graft.model.AnnIndex]] discipline: tokenizers are models — a
    * retrain is the next version, serving replays a pinned one; a
    * tokenizer that drifts under a live corpus silently changes every
    * downstream token count).
    */
  def publishMerges(spark: SparkSession, root: String,
                    merges: DataFrame): String =
    Layout.publishVersion(spark, root,
      merges.select(col("round").cast("long"), col("lhs"), col("rhs"),
        col("merged"), col("pair_count").cast("long")))

  /** Load the LIVE merge table back in training order — bounded collect
    * (`rounds` rows).
    */
  def loadMerges(spark: SparkSession, root: String): Seq[(String, String)] =
    Layout.readCurrent(spark, root)
      .select(col("round").cast("long"), col("lhs"), col("rhs"))
      .collect()
      .sortBy(_.getLong(0))
      .map(r => (r.getString(1), r.getString(2)))
      .toSeq
}
