package graft.operators

import org.apache.spark.sql.{DataFrame, SparkSession}
import org.apache.spark.sql.functions._
import graft.functions.text
import graft.plans.route

/**
 * WordPiece/BPE vocabulary induction over a document corpus — the
 * tokenizer-TRAINING side of a training-data pipeline (the reference
 * consumes a pretrained BERT vocab, onto_index.py:38-47; inducing one
 * from the corpus closes the loop with `text.wordpieceTokensCol`).
 *
 * Classic BPE (Sennrich et al. 2016) in WordPiece symbol notation
 * ("##"-prefixed continuations): start from characters, repeatedly merge
 * the most frequent adjacent symbol pair. The Spark shape exploits the
 * one fact that makes this scale: merges operate on the WORD HISTOGRAM,
 * not the corpus — one transcript-proportional aggregation builds
 * (word, count), and every merge round is then a small job over the
 * catalog-sized histogram (pair counting = explode + sum keyed by the
 * pair; merge application = a per-word kernel). 10^12 turns cost one
 * scan; the loop's cost depends only on vocabulary diversity.
 *
 * Deterministic by construction: integer weighted counts (associative),
 * explicit (count desc, left asc, right asc) tie-break on every argmax,
 * and the per-round histogram is stage.materialize'd so the loop's plan
 * stays flat (the q39/extension contract).
 */
object vocab {

  /** A word as its initial WordPiece symbol sequence: first char plain,
    * continuations "##"-prefixed. */
  def initSymbols(w: String): Seq[String] =
    if (w.isEmpty) Seq.empty
    else w.substring(0, 1) +: w.drop(1).map(c => "##" + c)

  /** Merge every non-overlapping adjacent (a, b) occurrence left-to-right
    * — the standard BPE application order. The merged symbol keeps a's
    * continuation status: "l"+"##o" → "lo", "##e"+"##s" → "##es". */
  def mergeAdjacent(sym: Seq[String], a: String, b: String): Seq[String] = {
    val out = scala.collection.mutable.ArrayBuffer[String]()
    var i = 0
    while (i < sym.length) {
      if (i + 1 < sym.length && sym(i) == a && sym(i + 1) == b) {
        out += sym(i) + sym(i + 1).stripPrefix("##")
        i += 2
      } else { out += sym(i); i += 1 }
    }
    out.toSeq
  }

  /** Weighted word histogram of a text column: (word, cnt). The ONLY
    * transcript-proportional job in vocab induction. */
  def wordHistogram(docs: DataFrame, textCol: String): DataFrame =
    docs
      .select(explode(text.wordTokensCol(col(textCol))).as("word"))
      .groupBy("word").agg(count(lit(1)).as("cnt"))

  /** Spark SQL string ordering (UTF8String.compareTo = unsigned byte-wise
    * UTF-8): the driver-local merge loop must break argmax ties exactly
    * like the distributed `orderBy(col("a").asc)` or the two paths
    * diverge on non-ASCII symbols (String.compareTo is UTF-16-code-unit
    * ordered, which disagrees with UTF-8 bytes above the BMP). */
  private[graft] def utf8Lt(x: String, y: String): Boolean = {
    val a = x.getBytes(java.nio.charset.StandardCharsets.UTF_8)
    val b = y.getBytes(java.nio.charset.StandardCharsets.UTF_8)
    var i = 0
    val n = math.min(a.length, b.length)
    while (i < n) {
      val d = (a(i) & 0xff) - (b(i) & 0xff)
      if (d != 0) return d < 0
      i += 1
    }
    a.length < b.length
  }

  private def utf8Cmp(x: String, y: String): Int =
    if (x == y) 0 else if (utf8Lt(x, y)) -1 else 1

  /** Driver-local BPE merge loop over a collected histogram — exact same
    * semantics as the distributed loop (weighted adjacent-pair counts
    * including overlapping occurrences, `minCount` floor, (count desc,
    * left asc, right asc) tie-break in UTF-8 byte order, left-to-right
    * non-overlapping application), proven ≡ by VocabSpec.
    *
    * Incremental trainer, the classic fast-BPE structure: pair counts and
    * a pair→word-index map are built once; each round pops the argmax off
    * a lazily-invalidated max-heap (a popped snapshot is valid iff it
    * equals the pair's live count) and re-derives pair deltas only for the
    * words that actually contain the merged pair. Per-round cost is
    * O(affected words × length), not O(histogram). Zero Spark jobs. */
  private[graft] def learnMergesLocal(histRows: Array[(String, Long)],
      nMerges: Int, minCount: Long): Seq[(Int, String, String, String, Long)] = {
    import scala.collection.mutable
    val init = histRows.iterator
      .map { case (w, c) => (initSymbols(w).toArray, c) }
      .filter(_._1.nonEmpty).toArray
    val syms: Array[Array[String]] = init.map(_._1)
    val wcnt: Array[Long] = init.map(_._2)
    val counts = new mutable.AnyRefMap[(String, String), Long]()
    // word indices that contained the pair at SOME point (lazily pruned:
    // membership is re-verified against the live symbols on use)
    val where = new mutable.AnyRefMap[(String, String), mutable.ArrayBuffer[Int]]()

    def addPairs(wi: Int, sign: Long,
                 touched: mutable.HashSet[(String, String)]): Unit = {
      val s = syms(wi)
      val c = wcnt(wi) * sign
      var i = 0
      while (i < s.length - 1) {
        val p = (s(i), s(i + 1))
        counts.updateWith(p)(o => Some(o.getOrElse(0L) + c))
        if (sign > 0) where.getOrElseUpdate(p, mutable.ArrayBuffer[Int]()) += wi
        if (touched != null) touched += p
        i += 1
      }
    }
    var wi = 0
    while (wi < syms.length) { addPairs(wi, 1L, null); wi += 1 }

    // max-heap: highest count first, then SMALLEST (left, right) — the
    // distributed loop's (n desc, a asc, b asc) argmax order
    val heapOrd: Ordering[(Long, String, String)] =
      (x: (Long, String, String), y: (Long, String, String)) => {
        if (x._1 != y._1) java.lang.Long.compare(x._1, y._1)
        else {
          val ca = utf8Cmp(x._2, y._2)
          if (ca != 0) -ca else -utf8Cmp(x._3, y._3)
        }
      }
    val heap = mutable.PriorityQueue.empty[(Long, String, String)](heapOrd)
    counts.foreachEntry((k, n) => if (n >= minCount) heap.enqueue((n, k._1, k._2)))

    val merges = mutable.ArrayBuffer[(Int, String, String, String, Long)]()
    var round = 0
    var exhausted = false
    while (round < nMerges && !exhausted) {
      var found: (String, String, Long) = null
      while (found == null && heap.nonEmpty) {
        val (n, a, b) = heap.dequeue()
        // stale snapshots are dropped, not re-pushed: a fresh snapshot was
        // enqueued the moment the live count changed
        if (n >= minCount && counts.getOrElse((a, b), 0L) == n)
          found = (a, b, n)
      }
      if (found == null) exhausted = true
      else {
        val (a, b, n) = found
        val merged = a + b.stripPrefix("##")
        merges += ((round + 1, a, b, merged, n))
        val touched = new mutable.HashSet[(String, String)]()
        val affected = where.getOrElse((a, b), mutable.ArrayBuffer.empty)
        var j = 0
        while (j < affected.length) {
          val w = affected(j)
          val s = syms(w)
          var has = false
          var i = 0
          while (!has && i < s.length - 1) {
            if (s(i) == a && s(i + 1) == b) has = true
            i += 1
          }
          if (has) {
            addPairs(w, -1L, touched)
            // mergeAdjacent is the single shared application kernel
            // (also used by the distributed UDF path)
            syms(w) = mergeAdjacent(s.toIndexedSeq, a, b).toArray
            addPairs(w, 1L, touched)
          }
          j += 1
        }
        where.remove((a, b))
        touched.foreach { p =>
          val cur = counts.getOrElse(p, 0L)
          if (cur <= 0L) { counts.remove(p); where.remove(p) }
          else if (cur >= minCount) heap.enqueue((cur, p._1, p._2))
        }
        round += 1
      }
    }
    merges.toSeq
  }

  /** Merge-eligibility floor and driver-heap guard (see `learnMerges`),
    * shared by `learnMerges` and `induce`. */
  val MinCount = 2L
  val MaxLocalHistWords = 1000000L

  /**
   * Learn `nMerges` BPE merges from a word histogram. Returns
   * (merge_ord, left, right, merged, pair_count) — the merge table IS the
   * tokenizer model; `vocabFrom` turns it into the piece set
   * `text.wordpieceTokensCol` consumes. Stops early when no adjacent pair
   * occurs at least `MinCount` times.
   *
   * Two execution paths, bit-identical (VocabSpec): when the histogram has
   * at most `MaxLocalHistWords` distinct words — vocabularies are
   * catalog-sized, so this is the normal case even for a 10^12-turn corpus
   * — it is collected ONCE behind the guard and the merge loop runs
   * driver-local (a 1,000-merge induction is seconds, not 1,000 Spark jobs
   * + materializations). `MaxLocalHistWords` guards DRIVER HEAP, not just
   * row count: the local trainer holds per-word symbol arrays plus
   * pair-count and pair→word index maps — roughly 0.5-1 KB of heap per
   * distinct word — so the 1M bound budgets ~1 GB of driver heap.
   * Larger histograms take the distributed loop: one
   * small Spark job per merge over the histogram, corpus-size-independent
   * but driver-latency-bound. BPE merges are sequentially dependent — the
   * loop itself cannot fan out; what scales is keeping it OFF the
   * transcript table (`wordHistogram` is the only corpus-proportional job).
   */
  def learnMerges(spark: SparkSession, hist: DataFrame, nMerges: Int): DataFrame = {
    import spark.implicits._
    require(nMerges >= 0, s"nMerges must be >= 0, got $nMerges")
    merges(spark, hist, nMerges, MinCount, localHist(hist, MaxLocalHistWords))
      .toDF("merge_ord", "left", "right", "merged", "pair_count")
  }

  /** The histogram as driver rows when the route admits it. */
  private def localHist(hist: DataFrame, bound: Long): Option[Array[(String, Long)]] = {
    import hist.sparkSession.implicits._
    route.local(hist.select(col("word").cast("string"), col("cnt").cast("long"))
      .as[(String, Long)], bound, "vocab histogram")
  }

  /** A WordPiece piece set from a word histogram: the base characters plus
    * `nMerges` BPE merges at the default `MinCount` floor, i.e.
    * `vocabFrom(hist, learnMerges(hist, nMerges))`. One route probe
    * serves both: within `MaxLocalHistWords` the collected rows feed the
    * driver-local trainer and the base set with no further job; past it
    * the distributed loop and `vocabFrom` run without a second probe.
    * A pure function of the histogram either way. */
  def induce(spark: SparkSession, hist: DataFrame, nMerges: Int): Set[String] = {
    val rows = localHist(hist, MaxLocalHistWords)
    rows.fold(baseSymbols(spark, hist))(_.iterator.flatMap(r => initSymbols(r._1)).toSet) ++
      merges(spark, hist, nMerges, MinCount, rows).map(_._4)
  }

  /** Merges from the route's rows when it admitted the histogram, else by
    * the distributed loop: one small job per merge over the histogram. */
  private def merges(spark: SparkSession, hist: DataFrame, nMerges: Int, minCount: Long,
                     rows: Option[Array[(String, Long)]]): Seq[(Int, String, String, String, Long)] =
    rows.fold(learnMergesLoop(spark, hist, nMerges, minCount))(learnMergesLocal(_, nMerges, minCount))

  private[graft] def learnMergesLoop(spark: SparkSession, hist: DataFrame, nMerges: Int,
      minCount: Long): Seq[(Int, String, String, String, Long)] = {
    import spark.implicits._
    val toSym = udf((w: String) => initSymbols(w))
    var sym = graft.plans.stage.materialize(
      hist.select(toSym(col("word")).as("sym"), col("cnt"))
        .filter(size(col("sym")) > 0))
    val merges = scala.collection.mutable.ArrayBuffer[(Int, String, String, String, Long)]()
    var round = 0
    var exhausted = false
    while (round < nMerges && !exhausted) {
      // weighted adjacent-pair counts over the histogram (pairs per word
      // via zip of the array with its own tail — codegen'd, no kernel)
      val best = sym
        .filter(size(col("sym")) > 1)
        .select(col("cnt"), explode(
          zip_with(
            slice(col("sym"), lit(1), size(col("sym")) - 1),
            slice(col("sym"), lit(2), size(col("sym")) - 1),
            (x, y) => struct(x.as("a"), y.as("b")))).as("pr"))
        .groupBy(col("pr.a").as("a"), col("pr.b").as("b"))
        .agg(sum(col("cnt")).as("n"))
        .filter(col("n") >= minCount)
        .orderBy(col("n").desc, col("a").asc, col("b").asc)
        .limit(1)
        .as[(String, String, Long)]
        .collect()
      best.headOption match {
        case None => exhausted = true
        case Some((a, b, n)) =>
          val merged = a + b.stripPrefix("##")
          merges += ((round + 1, a, b, merged, n))
          val applyMerge = udf((s: Seq[String]) => mergeAdjacent(s, a, b))
          sym = graft.plans.stage.materialize(
            sym.select(applyMerge(col("sym")).as("sym"), col("cnt")))
          round += 1
      }
    }
    merges.toSeq
  }

  /** The piece set implied by a merge table plus the base characters of
    * the histogram — directly consumable by `text.wordpieceTokensCol`
    * (greedy longest-match over this set reproduces BPE segmentation for
    * every in-histogram word when merges were learned to convergence;
    * for partial vocabularies greedy is the standard WordPiece
    * approximation). */
  def vocabFrom(spark: SparkSession, hist: DataFrame,
                merges: DataFrame): Set[String] = {
    import spark.implicits._
    baseSymbols(spark, hist) ++ merges.select(col("merged")).as[String].collect().toSet
  }

  private def baseSymbols(spark: SparkSession, hist: DataFrame): Set[String] = {
    import spark.implicits._
    hist.select(explode(udf((w: String) => initSymbols(w)).apply(col("word"))).as("s"))
      .distinct().as[String].collect().toSet
  }
}
