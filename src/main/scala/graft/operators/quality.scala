package graft.operators

import org.apache.spark.sql.{Column, DataFrame}
import org.apache.spark.sql.functions._
import org.apache.spark.sql.expressions.Window
import graft.functions.{rnd, text}
import graft.plans.stage

/**
 * Document-quality operators for large-scale training-data pipelines:
 * repetition metrics (the Gopher-style "remove documents that repeat
 * themselves" family), deterministic per-domain quota sampling (domain
 * mixing), and benchmark decontamination (train/test n-gram overlap).
 *
 * Everything follows the repo's determinism contract: all hash material is
 * md5 (engine-portable), every selection has a total-order tie-break, and
 * fractions are exposed un-rounded so callers choose the boundary rounding.
 */
object quality {

  /**
   * Token-level repetition metrics per document — the signals a
   * Gopher/FineWeb-style quality filter thresholds on:
   *
   *   - `dup_word_frac`: 1 − distinct/total words (computed without any
   *     shuffle — `array_distinct` inside codegen);
   *   - `top_bigram_frac`: occurrences of the most frequent word bigram
   *     over all bigram occurrences;
   *   - `dup_bigram_frac`: fraction of bigram occurrences whose bigram
   *     occurs more than once in the document.
   *
   * Scale: the bigram statistics explode to one row per bigram OCCURRENCE,
   * then aggregate by (id, bigram-key) — both aggregations get map-side
   * partial combine, and the shuffle carries `dedup.contentKey` (8 bytes)
   * instead of the bigram string, the same narrow-shuffle rationale as
   * `ngramJaccardPairs`. Nothing is quadratic in document length (a pure
   * higher-order-function formulation of top-bigram would be O(len²) per
   * doc — wrong for 10k-token web documents).
   */
  def repetitionMetrics(docs: DataFrame, idCol: String, textCol: String): DataFrame = {
    val toks = text.wordTokensCol(col(textCol))
    val base = docs.select(col(idCol).as("id"), toks.as("toks"))
      .withColumn("n_words", size(col("toks")).cast("long"))
      .withColumn("n_distinct_words", size(array_distinct(col("toks"))).cast("long"))
    // one row per bigram occurrence (NOT distinct — counts are the point)
    val bg = base.select(col("id"),
      explode(
        filter(
          transform(col("toks"), (_, i) =>
            when(i <= size(col("toks")) - 2,
              array_join(slice(col("toks"), i + 1, lit(2)), " "))),
          s => s.isNotNull)).as("bg"))
      .select(col("id"), dedup.contentKey(col("bg")).as("bgk"))
    val perDoc = bg.groupBy("id", "bgk").agg(count(lit(1)).as("c"))
      .groupBy("id").agg(
        sum(col("c")).as("n_bigrams"),
        max(col("c")).as("top_bigram_n"),
        sum(when(col("c") > 1, col("c")).otherwise(0L)).as("dup_bigram_occ"))
    base.select(col("id"), col("n_words"), col("n_distinct_words"))
      .join(perDoc, Seq("id"), "left")
      .select(
        col("id"), col("n_words"), col("n_distinct_words"),
        when(col("n_words") === 0, lit(0.0))
          .otherwise(lit(1.0) - col("n_distinct_words") / col("n_words"))
          .as("dup_word_frac"),
        coalesce(col("n_bigrams"), lit(0L)).as("n_bigrams"),
        coalesce(col("top_bigram_n"), lit(0L)).as("top_bigram_n"),
        coalesce(col("top_bigram_n") / col("n_bigrams"), lit(0.0)).as("top_bigram_frac"),
        coalesce(col("dup_bigram_occ") / col("n_bigrams"), lit(0.0)).as("dup_bigram_frac"))
  }

  /**
   * Deterministic per-group quota sampling — the domain-mixing selection a
   * pretraining pipeline runs ("keep at most `quota_g` documents from
   * domain g", with per-domain quotas as data): a uniform-without-
   * replacement sample whose membership is a pure function of content
   * (rank by md5(id), so the same documents are kept at any partitioning,
   * any cluster size, any insertion order).
   *
   * `quotas` is a small (grp, quota) table — broadcast.
   *
   * Scale: a naive `Window.partitionBy(grp)` ranks each domain on ONE
   * task — a web corpus has few domains and billions of rows per domain,
   * so that window is the skew bottleneck. Instead the md5 keyspace is
   * range-bucketed (first two hex digits → 256 buckets): ranks are
   * computed within (grp, bucket) — 256× narrower windows — and promoted
   * to global per-group ranks by adding the running offset of the
   * preceding buckets, which is itself a window over the tiny
   * (grp × 256)-row count table. Fully distributed: no driver collect
   * (the `downsampleNegatives` cousin collects its offsets; here groups ×
   * buckets stays a DataFrame so the operator scales with the number of
   * domains too). For the same reason the offsets/quotas joins carry NO
   * broadcast hint: the ranked side is already hash-partitioned on
   * (grp, _b) by its window, so Catalyst/AQE broadcasts the side tables
   * while they are small and falls back to a co-partitioned join when the
   * domain count outgrows a broadcast — a forced hint would reintroduce
   * the many-domains driver bottleneck this formulation exists to avoid.
   */
  def quotaSample(docs: DataFrame, idCol: String, groupCol: String,
                  quotas: DataFrame): DataFrame = {
    val tagged = docs
      .select(col(idCol).as("id"), col(groupCol).as("grp"))
      .withColumn("_h", md5(col("id").cast("string")))
      .withColumn("_b", conv(substring(col("_h"), 1, 2), 16, 10).cast("int"))
      // semantic no-op (inner joins drop null keys anyway) but load-bearing
      // for the plan: the final join infers isnotnull(_b) into the ranked
      // branch ONLY, which de-canonicalizes the two otherwise-identical
      // shuffle subtrees and defeats ReuseExchange — stating the predicate
      // here puts it in BOTH branches, so the corpus is scanned once
      .filter(col("grp").isNotNull && col("_b").isNotNull)
    val wB = Window.partitionBy("grp", "_b").orderBy(col("_h").asc, col("id").asc)
    val ranked = tagged.withColumn("_r", row_number().over(wB))
    // offsets derive FROM the ranked frame (per-bucket count = max rank),
    // not from a second `tagged` branch: both join sides then share the
    // identical scan → exchange(grp,_b) → sort → window subtree, which
    // Spark's ReuseExchange collapses to ONE corpus scan + ONE shuffle —
    // the naive two-branch formulation paid a second full corpus pass
    val wOff = Window.partitionBy("grp").orderBy("_b")
      .rowsBetween(Window.unboundedPreceding, -1)
    val offsets = ranked.groupBy("grp", "_b").agg(max(col("_r")).as("_n"))
      .withColumn("_off", coalesce(sum(col("_n")).over(wOff), lit(0L)))
      .select("grp", "_b", "_off")
    ranked
      .join(offsets, Seq("grp", "_b"))
      .withColumn("rnk", col("_off") + col("_r"))
      .join(quotas.select(col("grp"), col("quota")), Seq("grp"))
      .filter(col("rnk") <= col("quota"))
      .select(col("id"), col("grp"), col("rnk"))
  }

  /**
   * Benchmark decontamination: flag training documents sharing at least
   * `minOverlap` distinct word k-shingles with ANY benchmark document —
   * the standard pre-training hygiene pass against eval-set leakage.
   *
   * Returns every training document with its overlap count and a 0/1
   * `contaminated` flag (clean documents kept — the caller filters, and a
   * full outer record is what audits want).
   *
   * Scale: the benchmark side is eval suites — thousands of documents,
   * millions of shingles — so its DISTINCT shingle-key set is broadcast
   * and the 100 TB training side is never shuffled at all: shingle
   * generation, the broadcast semi-ish join and the per-document count
   * are one map-side pass plus one (id)-keyed partial-combined agg.
   * Shingles travel as `dedup.contentKey` (8 bytes), never as strings.
   *
   * The broadcast is GUARDED, not assumed: one exact dimension-side count
   * of the distinct bench keys routes the plan (a count, not
   * `route.local`'s bounded probe, because the persisted bench side feeds
   * the join on both routes; the fallback prints `route.note`'s line) — under `maxBenchShingles` (default 20M ≈
   * ~1 GB of broadcast hash relation) the bench set broadcasts; over it —
   * a caller "decontaminating" against a corpus slice rather than an eval
   * suite — the operator falls back to a width-pinned co-partitioned
   * shuffled join instead of force-broadcasting past Spark's limits into
   * a driver OOM. The `stage.pinned(shk)` width pin on BOTH sides is
   * load-bearing in the fallback: AQE sizes the exchange by input bytes,
   * not by the join fan-out (the 1-task disease, BENCH/BASELINE.md).
   */
  def decontaminate(train: DataFrame, bench: DataFrame,
                    idCol: String, textCol: String,
                    k: Int = 3, minOverlap: Long = 2L,
                    maxBenchShingles: Long = 20000000L): DataFrame = {
    val trainSh = dedup.shingles(train, idCol, textCol, k)
      .select(col("id"), dedup.contentKey(col("shingle")).as("shk"))
    // persisted across the routing count and the join it routes: without
    // it the tokenize+shingle+distinct pipeline over the bench side runs
    // twice — once for the count, once inside the join — which doubles
    // the expensive side exactly in the over-cap FALLBACK regime the
    // guard exists for. On the under-cap broadcast path the cache is
    // dropped again before building the result: an InMemoryRelation in
    // the lineage blocks AQE's runtime broadcast conversion of the final
    // id-keyed left join (the SortMergeJoin is caught by PlanShapeSpec
    // "decontaminate: all joins broadcast, train side never sort-merged"),
    // and re-deriving an eval-suite-small side is cheap by contract.
    val benchSh = dedup.shingles(bench, idCol, textCol, k)
      .select(dedup.contentKey(col("shingle")).as("shk")).distinct()
      .persist()
    val nBench = benchSh.count()
    val overlap =
      if (nBench <= maxBenchShingles) {
        benchSh.unpersist(blocking = false)
        trainSh.join(broadcast(benchSh), Seq("shk"))
          .groupBy("id").agg(count(lit(1)).as("n_overlap"))
      } else {
        // the bench side does not look like an eval suite: a width-pinned
        // shuffled join (raise maxBenchShingles if the broadcast is intended)
        graft.plans.route.note("decontaminate bench shingles", maxBenchShingles,
          nBench.toString, "over bound")
        // materialize the per-doc overlap NOW so the over-cap bench cache
        // (>1 GB regime by definition) is released here instead of staying
        // pinned in executor storage for the rest of the session (the
        // returned frame otherwise keeps referencing it; r6 ADVICE).
        // Overlap is one narrow row per train doc with >= 1 hit — the
        // cheapest thing on this path to hold instead.
        val m = stage.materialize(
          stage.pinned(trainSh, col("shk"))
            .join(stage.pinned(benchSh, col("shk")), Seq("shk"))
            .groupBy("id").agg(count(lit(1)).as("n_overlap")))
        benchSh.unpersist(blocking = false)
        m
      }
    train.select(col(idCol).as("id"))
      .join(overlap, Seq("id"), "left")
      .select(col("id"),
        coalesce(col("n_overlap"), lit(0L)).as("n_overlap"),
        (coalesce(col("n_overlap"), lit(0L)) >= minOverlap).cast("int").as("contaminated"))
  }

  /**
   * Bigram-LM perplexity scoring — the CCNet-style "score every document
   * by a language model and threshold on perplexity" quality pass, with
   * the KenLM stand-in being an add-one-smoothed bigram model fit on
   * `corpus` and applied to `docs`:
   *
   *   p(w2 | w1) = (c(w1 w2) + 1) / (c(w1 ·) + V)
   *
   * where c(w1 w2) is the corpus count of the bigram, c(w1 ·) the count of
   * bigram occurrences starting with w1, and V the corpus vocabulary size.
   * Unseen bigrams (scoring held-out docs) fall back to the smoothed
   * floor; unseen contexts score 1/V. Emits one row per document:
   * `n_bigrams`, the fixed-point negative log-likelihood `nll_fp`
   * (Σ floor(−10⁶·ln p) as BIGINT — associative integer arithmetic, so
   * the per-document sum is bit-identical at ANY partitioning), and
   * `avg_nll` = nll_fp / (n_bigrams·10⁶) rounded to 6 decimals
   * (≈ ln-perplexity; callers threshold on it). Cross-ENGINE agreement is
   * empirical, not provable: the per-term floor sits on a transcendental
   * (ln implementations may differ in the last ulp; the floor flips only
   * when −10⁶·ln p lands within ~1e-9 of an integer) — verified exact
   * against DuckDB at both crosscheck scales, but unlike the all-integer
   * k-means arithmetic it is not bit-identical by construction.
   *
   * Scale: the model is two count tables keyed by `dedup.contentKey`
   * (8-byte keys, map-side partial combine — bigram strings never travel);
   * the context table derives from the DISTINCT-bigram table (`min(w1k)`
   * per bigram key — deterministic, unlike `first`), not from a second
   * corpus pass. Scoring is one pass over `docs`: two shuffled joins on
   * the narrow keys (model-sized sides — at web scale the model is
   * data-scale, so these are honest co-partitioned joins; AQE broadcasts
   * them while small) plus one (id)-keyed partially-combined agg. V is a
   * single distributed count-distinct (a scalar, not a collect). The
   * production CCNet layout — fit on a curated sample, score the 100 TB
   * side — maps to `corpus` ≠ `docs`, where the corpus passes (one for V,
   * one for the model) are sample-sized.
   */
  def lmPerplexity(corpus: DataFrame, docs: DataFrame,
                   idCol: String, textCol: String): DataFrame = {
    val (model, ctx, vSize) = lmModel(corpus, idCol, textCol)
    val terms = lmBigrams(docs, idCol, textCol)
      .join(model, Seq("bgk"), "left")
      .join(ctx, Seq("w1k"), "left")
      .select(col("id"), lmTerm(vSize).as("t"))
    val per = terms.groupBy("id")
      .agg(count(lit(1)).as("n_bigrams"), sum(col("t")).as("nll_fp"))
    docs.select(col(idCol).as("id"))
      .join(per, Seq("id"), "left")
      .select(col("id"),
        coalesce(col("n_bigrams"), lit(0L)).as("n_bigrams"),
        coalesce(col("nll_fp"), lit(0L)).as("nll_fp"),
        when(coalesce(col("n_bigrams"), lit(0L)) === 0, lit(0.0))
          .otherwise(round(col("nll_fp") / (col("n_bigrams") * lit(1000000.0)), 6))
          .as("avg_nll"))
  }

  /** One row per bigram OCCURRENCE: (id, w1-key, bigram-key) — 8-byte
    * `contentKey`s, the strings never leave the map side. */
  private def lmBigrams(df: DataFrame, idCol: String, textCol: String): DataFrame = {
    val toks = text.wordTokensCol(col(textCol))
    df.select(col(idCol).as("id"), toks.as("toks"))
      .select(col("id"), explode(
        filter(
          transform(col("toks"), (_, i) =>
            when(i <= size(col("toks")) - 2,
              struct(get(col("toks"), i).as("w1"),
                array_join(slice(col("toks"), i + 1, lit(2)), " ").as("bg")))),
          s => s.isNotNull)).as("p"))
      .select(col("id"),
        dedup.contentKey(col("p.w1")).as("w1k"),
        dedup.contentKey(col("p.bg")).as("bgk"))
  }

  /** Fit the add-one bigram model on `corpus`: the (bgk, c) bigram-count
    * table, the (w1k, cc) context-count table (derived from the DISTINCT-
    * bigram table via min(w1k) — deterministic, and no second corpus
    * pass), and the vocabulary size (one distributed count-distinct). */
  private def lmModel(corpus: DataFrame, idCol: String,
                      textCol: String): (DataFrame, DataFrame, Long) = {
    val vSize = corpus
      .select(explode(text.wordTokensCol(col(textCol))).as("tok"))
      .agg(countDistinct(col("tok"))).head().getLong(0)
    // fail fast on an empty/token-free corpus: V = 0 would make the
    // smoothed denominator 0 for unseen contexts — ±Inf NLL terms instead
    // of a diagnostic
    require(vSize > 0,
      "lmPerplexity/dsirWeights: the LM corpus has no tokens — " +
        "check the corpus filter (e.g. an empty target slice)")
    val model = lmBigrams(corpus, idCol, textCol).groupBy("bgk")
      .agg(count(lit(1)).as("c"), min(col("w1k")).as("w1k"))
    (model.select(col("bgk"), col("c")),
      model.groupBy("w1k").agg(sum(col("c")).as("cc")), vSize)
  }

  /** Per-occurrence fixed-point NLL term over joined (c, cc) model columns:
    * floor(−10⁶·ln((c+1)/(cc+V))) as BIGINT — associative integer sums. */
  private def lmTerm(vSize: Long, c: Column = col("c"), cc: Column = col("cc")): Column =
    floor(lit(-1000000.0) * log(
      (coalesce(c, lit(0L)) + lit(1.0)) /
        (coalesce(cc, lit(0L)) + lit(vSize.toDouble)))).cast("long")

  /**
   * DSIR-style importance weighting for data selection (Xie et al. 2023):
   * fit one bigram LM on a `target` sample (the distribution you want more
   * of) and one on a `background` sample (what the raw corpus looks like),
   * then weight every document by its log importance ratio
   *
   *   log w(x) = log p_target(x) − log p_background(x)
   *            = NLL_background(x) − NLL_target(x)
   *
   * computed in the fixed-point domain (`logw_fp` = integer difference of
   * the two per-document NLL sums — partition-invariant; cross-engine
   * agreement inherits `lmPerplexity`'s empirical-not-provable ln caveat;
   * `log_w` = logw_fp/10⁶ rounded to 6). A selection
   * pass keeps the top-weight documents (or Gumbel-samples on the weight —
   * the caller's policy).
   *
   * Scale: both models are sample-fit by contract (target sets are small
   * by definition; background is a deterministic sample of the corpus);
   * the 100 TB side — `docs` — is scanned ONCE: a single bigram pass feeds
   * both scorings via four narrow-key joins (bigram + context per model),
   * then one (id)-keyed partially-combined agg, exactly the lmPerplexity
   * plan with a second model joined alongside.
   */
  def dsirWeights(target: DataFrame, background: DataFrame, docs: DataFrame,
                  idCol: String, textCol: String): DataFrame = {
    val (mT, cT, vT) = lmModel(target, idCol, textCol)
    val (mB, cB, vB) = lmModel(background, idCol, textCol)
    val terms = lmBigrams(docs, idCol, textCol)
      .join(mT.withColumnRenamed("c", "c_t"), Seq("bgk"), "left")
      .join(cT.withColumnRenamed("cc", "cc_t"), Seq("w1k"), "left")
      .join(mB.withColumnRenamed("c", "c_b"), Seq("bgk"), "left")
      .join(cB.withColumnRenamed("cc", "cc_b"), Seq("w1k"), "left")
      .select(col("id"),
        lmTerm(vT, col("c_t"), col("cc_t")).as("t_t"),
        lmTerm(vB, col("c_b"), col("cc_b")).as("t_b"))
    val per = terms.groupBy("id").agg(
      count(lit(1)).as("n_bigrams"),
      sum(col("t_t")).as("nll_target_fp"),
      sum(col("t_b")).as("nll_background_fp"))
    docs.select(col(idCol).as("id"))
      .join(per, Seq("id"), "left")
      .select(col("id"),
        coalesce(col("n_bigrams"), lit(0L)).as("n_bigrams"),
        coalesce(col("nll_target_fp"), lit(0L)).as("nll_target_fp"),
        coalesce(col("nll_background_fp"), lit(0L)).as("nll_background_fp"),
        (coalesce(col("nll_background_fp"), lit(0L)) -
          coalesce(col("nll_target_fp"), lit(0L))).as("logw_fp"),
        round((coalesce(col("nll_background_fp"), lit(0L)) -
          coalesce(col("nll_target_fp"), lit(0L))) / lit(1000000.0), 6).as("log_w"))
  }

  /**
   * Seeded Gumbel-top-k — weighted sampling WITHOUT replacement, the
   * selection step a DSIR pipeline runs on its importance weights: each
   * document gets the key g = log w + Gumbel(0,1) and the n largest keys
   * are the sample (Gumbel-max trick; selection probability follows the
   * softmax of the weights). Deterministic and partition-invariant like
   * every draw in this repo: the Gumbel noise derives from the
   * content-keyed `rnd.keyed` draw (u = (draw + 0.5)/2³¹ ∈ (0,1), so
   * −ln(−ln u) is always finite), and the key is carried in the
   * fixed-point domain — `gumbel_fp` = logw_fp + floor(10⁶·(−ln(−ln u)))
   * as BIGINT, ties broken on id ascending (partition-invariant; the
   * floor-of-ln cross-engine caveat from `lmPerplexity` applies).
   *
   * `logwFpCol` is a fixed-point log-weight column (`dsirWeights.logw_fp`
   * shaped); uniform sampling is the special case logw_fp = 0.
   *
   * Scale: global top-n runs as `orderBy().limit(n)` — per-partition
   * TakeOrdered + driver merge of n-row heads, never a global sort; the
   * rank window runs on the n selected rows only (dimension-sized).
   */
  def gumbelTopK(docs: DataFrame, idCol: String, logwFpCol: String,
                 n: Int, seed: Long): DataFrame = {
    require(n > 0, s"n must be positive, got $n")
    val u = (rnd.keyed(seed, col("id").cast("string")) + lit(0.5)) /
      lit(rnd.M.toDouble)
    val keyed = docs.select(col(idCol).as("id"), col(logwFpCol).as("logw_fp"))
      .withColumn("gumbel_fp",
        col("logw_fp") +
          floor(lit(1000000.0) * -log(-log(u))).cast("long"))
    val w = Window.orderBy(col("gumbel_fp").desc, col("id").asc)
    keyed.orderBy(col("gumbel_fp").desc, col("id").asc).limit(n)
      .withColumn("rnk", row_number().over(w).cast("long"))
      .select("id", "logw_fp", "gumbel_fp", "rnk")
  }

  /** Email pattern shared by the operator and its DuckDB oracle —
    * RE2-compatible (no lookarounds/backreferences), so the exact same
    * string runs under Java regex (Spark codegen) and RE2 (DuckDB). */
  val emailPat = "[A-Za-z0-9._%+-]+@[A-Za-z0-9.-]+\\.[A-Za-z]{2,}"
  /** IPv4-shaped dotted quad (syntactic: no 0-255 range check — a scrub
    * pass over-redacts rather than leaks). */
  val ipv4Pat = "\\b\\d{1,3}\\.\\d{1,3}\\.\\d{1,3}\\.\\d{1,3}\\b"
  /** North-American-shaped phone number: 3-3-4 digit groups with -, . or
    * space separators. */
  val phonePat = "\\b\\d{3}[-. ]\\d{3}[-. ]\\d{4}\\b"

  /**
   * PII redaction — the scrub pass a training-data pipeline runs before
   * tokenization (emails, IPv4 addresses, phone-shaped digit groups →
   * typed placeholder tokens), plus per-document counts of each redaction
   * so a downstream filter can threshold on PII density.
   *
   * Applied SEQUENTIALLY (emails, then IPs on the email-redacted text,
   * then phones) so the three counts partition the redacted spans: a
   * dotted quad inside an already-redacted email is not double-counted,
   * and the composition order is part of the contract (mirrored verbatim
   * in the q71 oracle).
   *
   * Scale: a pure `Column` regexp chain — whole-stage codegen, zero
   * shuffle, embarrassingly scan-parallel; the 100 TB cost is one pass
   * over the text bytes. Patterns are RE2-compatible so the DuckDB twin
   * runs the identical strings; both engines replace non-overlapping
   * leftmost matches, and the patterns are mutually non-ambiguous at
   * their boundaries (\\b + fixed group shapes), so the engines agree
   * byte-for-byte. Counting uses `regexp_count` (codegen) on the same
   * intermediate the next replace consumes.
   */
  def redactPii(docs: DataFrame, idCol: String, textCol: String): DataFrame = {
    val t0 = col(textCol)
    val t1 = regexp_replace(t0, emailPat, "<EMAIL>")
    val t2 = regexp_replace(t1, ipv4Pat, "<IP>")
    val t3 = regexp_replace(t2, phonePat, "<PHONE>")
    docs.select(
      col(idCol).as("id"),
      regexp_count(t0, lit(emailPat)).cast("long").as("n_email"),
      regexp_count(t1, lit(ipv4Pat)).cast("long").as("n_ipv4"),
      regexp_count(t2, lit(phonePat)).cast("long").as("n_phone"),
      t3.as("redacted"))
  }

  /**
   * GPT-style concat-and-chunk sequence packing — the batching layout a
   * pretraining pipeline computes before writing training shards:
   * documents are concatenated in a DETERMINISTIC content-keyed order
   * (md5(id), id — the same partition-invariant shuffle the repo's
   * seeded draws use) into one global token stream, which is then cut
   * into fixed-`seqLen` chunks; a document whose tokens straddle a chunk
   * boundary is split at materialization time. Emits the assignment one
   * row per document: its token count, its exclusive global token
   * offset, and the first/last chunk it lands in
   * (`bin_start`/`bin_end` = offset DIV seqLen, both inclusive; a
   * zero-token document reports `bin_start = bin_end = offset DIV
   * seqLen`).
   *
   * Scale: the global offset is an exclusive prefix sum over a total
   * order — naively ONE window task for the whole corpus. Same cure as
   * `quotaSample`: the md5 keyspace is range-bucketed on the first two
   * hex digits (256 buckets; bucket order ≡ hash order, so per-bucket
   * prefix sums + the 256-row bucket-base running sum compose to the
   * exact global prefix sum), the per-bucket windows are 256× narrower,
   * the base table is dimension-sized, and its join back broadcasts.
   * One corpus scan (the offsets derive from the tagged frame itself),
   * no driver collect.
   */
  def packSequences(docs: DataFrame, idCol: String, textCol: String,
                    seqLen: Long): DataFrame = {
    require(seqLen > 0, s"seqLen must be positive, got $seqLen")
    val tagged = docs
      .select(col(idCol).as("id"),
        size(text.wordTokensCol(col(textCol))).cast("long").as("n_tokens"))
      .withColumn("_h", md5(col("id").cast("string")))
      .withColumn("_b", conv(substring(col("_h"), 1, 2), 16, 10).cast("int"))
      .filter(col("_b").isNotNull)
    val wIn = Window.partitionBy("_b").orderBy(col("_h").asc, col("id").asc)
      .rowsBetween(Window.unboundedPreceding, -1)
    val inBucket = tagged.withColumn("_pre",
      coalesce(sum(col("n_tokens")).over(wIn), lit(0L)))
    // 256-row bucket totals; the running sum over bucket index is the
    // bucket base offset (tiny unpartitioned window — dimension-sized)
    val wBase = Window.orderBy("_b")
      .rowsBetween(Window.unboundedPreceding, -1)
    val base = tagged.groupBy("_b").agg(sum(col("n_tokens")).as("_tot"))
      .withColumn("_base", coalesce(sum(col("_tot")).over(wBase), lit(0L)))
      .select("_b", "_base")
    inBucket.join(broadcast(base), Seq("_b"))
      .withColumn("global_offset", col("_pre") + col("_base"))
      .select(col("id"), col("n_tokens"), col("global_offset"),
        expr(s"global_offset DIV ${seqLen}L").as("bin_start"),
        when(col("n_tokens") > 0,
          expr(s"(global_offset + n_tokens - 1) DIV ${seqLen}L"))
          .otherwise(expr(s"global_offset DIV ${seqLen}L")).as("bin_end"))
  }
}
