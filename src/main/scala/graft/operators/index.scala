package graft.operators

import org.apache.spark.sql.{Column, DataFrame}
import org.apache.spark.sql.functions._
import org.apache.spark.sql.expressions.Window
import graft.functions.text

/**
 * Sub-word inverted index + IDF candidate selection — the reference's
 * search-space pruning device (OntoInvertedIndex at
 * /root/reference/bertmap/onto/onto_index.py:49-60 and select_candidates at
 * onto_box.py:63-94), rebuilt as declarative Spark dataflow:
 *
 *   labels(id, label), one row per label
 *     → explode tokens → filter len>cut → distinct          = postings
 *   postings.groupBy(token).count                           = document freq
 *   queryTokens ⋈ postings on token                          (broadcast/salted)
 *     → groupBy(query, candidate).sum(idf weight)            = summed IDF
 *     → window top-k per query (desc score, asc candidate)   = candidates
 *
 * Scale notes (100 TB): the posting table of a catalog is small relative to
 * the query side (mentions), so the token join broadcasts the postings; hot
 * surface-form tokens produce skewed fan-out on the *aggregation* — handled
 * by (a) an optional df-cap dropping stop-tokens (a token present in a large
 * fraction of the catalog contributes ~log10(1)≈0 IDF anyway), and (b)
 * two-level aggregation via an explicit salt on the query side
 * (`saltBuckets`), plus AQE skew-join handling when the postings are too big
 * to broadcast.
 */
object index {

  /** Postings (one row per (id, token)) from a text column: a class's
    * label long form (`Pipeline.sideLabels`) or mention/document text.
    * Reference: onto_index.py:49-60 (tokenize each label, keep len>cut). A
    * token appearing in several labels of one class posts once. The
    * tokenizer is pluggable: `text.wordTokensCol` (default),
    * `text.subwordTokensCol(_)` to match the reference's WordPiece sub-word
    * postings (onto_index.py:46-47) — morphologically-related labels then
    * share head-piece postings — or `text.wordpieceTokensCol` over a vocab. */
  def postingsFromText(docs: DataFrame, idCol: String, textCol: String,
                       cut: Int = 0,
                       tokenizer: Column => Column = text.wordTokensCol): DataFrame =
    docs
      .select(col(idCol).as("class_id"), explode(tokenizer(col(textCol))).as("token"))
      .filter(length(col("token")) > cut)
      .distinct()

  /** Document frequency per token (onto_box.py:84: len(potential_candidates)). */
  def docFreq(postings: DataFrame): DataFrame =
    postings.groupBy("token").agg(count(lit(1)).as("df"))

  /**
   * IDF candidate selection: for each query id, the top-`limit` candidate
   * ids by summed log10(D/df) over shared tokens
   * (onto_box.py:73-89; candidate_limit config.json:41-47).
   *
   * @param queryTokens  (query_id, token) — pre-exploded query-side tokens
   * @param posting      (class_id, token) — candidate-side postings
   * @param totalDocs    D — candidate-catalog size (a scalar; broadcast-free)
   * @param limit        top-k per query
   * @param maxDfFrac    drop tokens with df > maxDfFrac*D (stop-token cap;
   *                     bounds the skewed fan-out of hot surface forms —
   *                     pass 1.0 to disable and match the reference exactly)
   * @param saltBuckets  >1 salts the token JOIN itself (classic skew-join
   *                     replication): the posting side gets a content salt
   *                     hash(class_id) % B, the query side replicates each
   *                     row across all B salts, and the join keys on
   *                     (token, salt) — so a hot surface-form token's
   *                     |queries| × df fan-out lands on B reducers instead
   *                     of one. Costs B× the (tiny) query-token volume;
   *                     the fan-out output volume is unchanged. Use in the
   *                     non-broadcast regime (posting side too big to
   *                     broadcast) where the token-keyed shuffle join
   *                     otherwise serializes on hot tokens
   * @param broadcastPostings Some(true) forces the broadcast hint (caller
   *                     knows the postings are catalog-sized), Some(false)/
   *                     None leaves the join strategy to Catalyst/AQE's
   *                     size statistics (autoBroadcastJoinThreshold) — the
   *                     safe default when the candidate side might not fit
   *                     an executor
   * @param widthHint    >0 (callers pass `stage.width`) pins ONE query_id
   *                     exchange of that width ahead of the
   *                     aggregation; the (query,class) groupBy, the
   *                     top-k window AND everything downstream of the
   *                     returned frame reuse it (query_id ⊆ both keys).
   *                     For catalog-sized inputs this stops AQE from
   *                     coalescing the CPU-dense candidate chain to one
   *                     task; leave 0 at transcript scale to keep the
   *                     map-side partial aggregation ahead of the shuffle.
   *                     With saltBuckets > 1 the pin moves to the
   *                     (token, salt) join keys instead — see the salted
   *                     branch: without it AQE coalesces the salted
   *                     partitions back onto one task and undoes the salt.
   * @param fixedPointIdf the token weight: log10(D/df) as a double
   *                     (default), or the integer surrogate
   *                     floor(1e6 * D / df) summed as BIGINT — exact,
   *                     associative arithmetic whose ranking is
   *                     bit-reproducible across engines and partitionings
   *                     (the double path can differ in the last ulp across
   *                     platforms, which matters only for cross-engine
   *                     golden comparison: both weights strictly decrease
   *                     in df)
   *
   * Returns (query_id, class_id, idf_w, rank): the summed weight and the
   * 1-based rank within the query. Tie-break: the reference inherits
   * Python's stable sort over insertion order (onto_box.py:87-89); we pin
   * (idf_w desc, class_id asc) explicitly so results are reproducible
   * across partitionings.
   */
  def idfCandidates(queryTokens: DataFrame, posting: DataFrame, totalDocs: Long,
                    limit: Int, maxDfFrac: Double = 1.0,
                    saltBuckets: Int = 1,
                    broadcastPostings: Option[Boolean] = None,
                    widthHint: Int = 0,
                    fixedPointIdf: Boolean = false): DataFrame = {
    val df0 = docFreq(posting)
    val dfKept =
      if (maxDfFrac >= 1.0) df0
      else df0.filter(col("df") <= lit(math.max(1.0, maxDfFrac * totalDocs)))
    val weight =
      if (fixedPointIdf) floor(lit(1000000L) * lit(totalDocs) / col("df")).cast("long")
      else log10(lit(totalDocs.toDouble) / col("df"))
    // token -> (class_id, w)
    val tokenIdf = posting
      .join(dfKept, "token")
      .withColumn("w", weight)
      .select("token", "class_id", "w")

    // widthHint pins explicit exchanges BEFORE the token join — the join
    // is the fan-out stage (per token: |q-docs| × df output rows; measured
    // 35M rows from two dimension-sized inputs), so the join's PROBE side
    // must already be wide: both inputs are KB-to-MB, AQE's byte-based
    // sizing coalesces either to one task, and a broadcast of the other
    // side then runs the whole fan-out + partial agg single-threaded.
    // Whichever side Catalyst broadcasts, the other carries an explicit
    // width-pinned exchange (exempt from AQE coalescing): the query side
    // on hash(query_id) — which the broadcast join preserves, so it also
    // serves the IDF agg and the top-k window — and, unless the posting
    // side is force-broadcast, the posting side on hash(token).
    val qIn = if (widthHint > 0)
      queryTokens.select(col("query_id"), col("token"))
        .repartition(widthHint, col("query_id"))
    else queryTokens.select(col("query_id"), col("token"))
    val pIn = if (widthHint > 0 && !broadcastPostings.contains(true))
      tokenIdf.repartition(widthHint, col("token"))
    else tokenIdf
    val joined =
      if (saltBuckets <= 1 || broadcastPostings.contains(true))
        // A broadcast hash join has NO reducer keyed by token — every
        // probe-side partition streams the whole fan-out itself — so there
        // is no hot-token reducer for a salt to spread: salting in the
        // broadcast regime would replicate the query side B× for an
        // identical result AND silently drop the query_id width pin the
        // downstream agg/top-k/scorer chain relies on. Route it to the
        // unsalted broadcast path instead (same result multiset by the
        // salted-join invariant).
        qIn.join(if (broadcastPostings.contains(true)) broadcast(pIn) else pIn,
          "token")
      else {
        // skew-join salting: every (query, token) row meets each posting
        // row exactly once — the posting's salt is a pure function of
        // class_id and the query side carries every salt value — so the
        // result multiset is identical to the unsalted join (pinned by
        // IndexSpec salted ≡ unsalted); only the partitioning of the
        // fan-out work changes. The (token, salt) exchanges are pinned at
        // widthHint explicitly: the fan-out join's INPUT is KB-to-MB while
        // its OUTPUT is the quadratic pair explosion, and AQE's byte-based
        // coalescing would otherwise collapse the salted partitions back
        // onto one task, silently undoing the salt (measured on the
        // 50%-hot-token probe: 1 task, 43 s, 290 MB written — identical to
        // unsalted; pinned: the fan-out runs widthHint wide).
        val pSalted0 = tokenIdf.withColumn("salt",
          pmod(hash(col("class_id")), lit(saltBuckets)))
        val qSalted0 = queryTokens.select(col("query_id"), col("token"))
          .withColumn("salt",
            explode(array((0 until saltBuckets).map(lit): _*)))
        val (qS, pS) =
          if (widthHint > 0)
            (qSalted0.repartition(widthHint, col("token"), col("salt")),
              pSalted0.repartition(widthHint, col("token"), col("salt")))
          else (qSalted0, pSalted0)
        qS.join(pS, Seq("token", "salt")).drop("salt")
      }

    val summed =
      joined.groupBy("query_id", "class_id").agg(sum("w").as("idf_w"))

    val w = Window.partitionBy("query_id")
      .orderBy(col("idf_w").desc, col("class_id").asc)
    summed
      .withColumn("rank", row_number().over(w))
      .filter(col("rank") <= limit)
  }
}
