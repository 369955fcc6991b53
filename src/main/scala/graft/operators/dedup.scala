package graft.operators

import org.apache.spark.sql.{Column, DataFrame}
import org.apache.spark.sql.functions._
import org.apache.spark.sql.expressions.Window
import graft.functions.text
import graft.plans.stage

/**
 * Document deduplication family for large-scale training-data pipelines.
 * All hash material derives from md5 (available identically in Spark and
 * ANSI-ish SQL engines → oracle-checkable), never from JVM hashCode.
 *
 * Scale design: every variant avoids the quadratic all-pairs comparison —
 * exact dedup is a single hash aggregation; MinHash/LSH compares only
 * within LSH buckets; n-gram Jaccard joins only documents sharing a
 * shingle whose document frequency is below a cap (hot shingles contribute
 * the least discriminative evidence and the most join fan-out — the same
 * df-cap rationale as the inverted-index stop-token cap).
 */
object dedup {

  /** Normalized text for dedup purposes. */
  def normText(c: Column): Column = text.normalizeCol(c)

  /** Exact dedup: group by md5(normalized text), keep the minimum id per
    * group (deterministic survivor). Returns (id, text_hash, group_size,
    * is_canonical). */
  def exact(docs: DataFrame, idCol: String, textCol: String): DataFrame = {
    val w = Window.partitionBy("text_hash")
    docs
      .select(col(idCol).as("id"), md5(normText(col(textCol))).as("text_hash"))
      .withColumn("group_size", count(lit(1)).over(w))
      .withColumn("is_canonical", (col("id") === min(col("id")).over(w)).cast("int"))
  }

  /** First-seen dedup ledger: one survivor per normalized-content hash —
    * the copy with the smallest (arrival, id), so ties in `arrival` break
    * on min id. The surviving HASH set equals `exact`'s canonical set for
    * ANY arrival order; only the surviving id depends on arrival. One
    * hash-keyed window — no pairs, no loop; the shuffle carries (id,
    * arrival, 32-byte hash) rows only. */
  def firstSeenLedger(docs: DataFrame, idCol: String, textCol: String,
                      arrivalCol: Column): DataFrame = {
    val w = Window.partitionBy("text_hash").orderBy(col("_arr").asc, col("id").asc)
    docs.select(col(idCol).as("id"), arrivalCol.as("_arr"),
        md5(normText(col(textCol))).as("text_hash"))
      .withColumn("_rk", row_number().over(w))
      .filter(col("_rk") === 1)
      .select(col("text_hash"), col("id").as("first_id"), col("_arr").as("arrival"))
  }

  /** Word k-shingles of a document as one row per distinct shingle. */
  def shingles(docs: DataFrame, idCol: String, textCol: String, k: Int): DataFrame = {
    val toks = text.wordTokensCol(col(textCol))
    docs.select(col(idCol).as("id"),
        explode(
          // sliding window of k tokens joined by space; empty when < k tokens
          filter(
            transform(toks, (_, i) =>
              when(i <= size(toks) - k,
                array_join(slice(toks, i + 1, lit(k)), " "))),
            s => s.isNotNull)
        ).as("shingle"))
      .distinct()
  }

  /** 60-bit integer key for a shingle/token string: md5-prefix, the
    * engine-portable hash (identical in any engine computing the same md5,
    * so a collision merges the same two strings everywhere — oracle hashes
    * stay bit-exact). Used to keep wide strings OUT of shuffles. */
  def contentKey(c: Column): Column =
    conv(substring(md5(c), 1, 15), 16, 10).cast("long")

  /** n-gram Jaccard near-dup pairs: J(|A∩B| / |A∪B|) >= threshold.
    * Joins only via shared shingles with df <= maxDf.
    *
    * Scale: the df-count and the self-join never carry shingle STRINGS —
    * each distinct shingle is reduced to `contentKey` (8 bytes) right
    * after generation, so the two shuffles exchange ~16 B rows regardless
    * of k. Expected collisions merge ~n²/2^61 shingle pairs (zero at any
    * realistic corpus), identically in the DuckDB twin. */
  def ngramJaccardPairs(docs: DataFrame, idCol: String, textCol: String,
                        k: Int, threshold: Double,
                        maxDf: Long = 1000L): DataFrame = {
    // materialized ONCE (r7): the distinct shingle-key table has THREE
    // consumers below (per-doc sizes, the df count, and the self-join
    // probe), each needing a different distribution — ReuseExchange does
    // not fire across them, and the tokenize+shingle+distinct pipeline ran
    // three times (measured at sf0.1: 3 separate scan stages, ~60 core-s
    // of the query's ~75). One eager materialization of the narrow
    // (id, 8-byte key) projection replaces two full corpus scans with
    // reads of a table that is a small multiple of the token count —
    // exactly the guide §5 cache rule (reused AND expensive to recompute).
    val sh = stage.materialize(
      shingles(docs, idCol, textCol, k)
        .select(col("id"), contentKey(col("shingle")).as("shingle")))
    val sizes = sh.groupBy("id").agg(count(lit(1)).as("n_shingles"))
    // project the df column away BEFORE the width-pinned exchange and the
    // self-join: only (shingle, id) is needed downstream (guide §2.3
    // "project before the exchange" — the join would otherwise drag 8
    // wasted bytes per row through the exchange, the SMJ sort and the
    // quadratic pair fan-out)
    val rare0 = sh.join(
      sh.groupBy("shingle").agg(count(lit(1)).as("df"))
        .filter(col("df") <= maxDf && col("df") >= 2),
      "shingle")
      .select("shingle", "id")
    // pin the self-join at cluster width: AQE sizes the exchange by its
    // INPUT bytes, but this stage's cost is the per-shingle-bucket pair
    // EXPLOSION — quadratic in bucket size, invisible to byte-based
    // coalescing (measured: 3.8 MB in, 89.7 MB + 23 s CPU out, coalesced
    // to ONE task). An explicit numPartitions repartition is exempt from
    // AQE coalescing, and both join sides share it, so the SMJ stays
    // co-partitioned.
    val rare = stage.pinned(rare0, col("shingle"))
    val joined = rare.as("a")
      .join(rare.as("b"),
        col("a.shingle") === col("b.shingle") && col("a.id") < col("b.id"))
      .select(col("a.id").as("id1"), col("b.id").as("id2"))
    // width-pin the pair aggregation too (r7): the (id1, id2) count is the
    // CPU-dense stage downstream of the explosion (measured at sf0.1:
    // 21.7 core-s squeezed into 8 AQE-coalesced tasks — byte-based
    // coalescing again blind to CPU density). The explicit exchange
    // replaces the agg's own (hash(id1, id2) satisfies the clustering), so
    // the plan trades the map-side partial combine for width — a good
    // trade HERE because a pair's shared shingles spread across shingle-
    // hash partitions, so the partial agg was collapsing little (measured:
    // exchange grew 254 → 280 MB (+10%) while the agg went from 8 to
    // `width` tasks — q23 wall 6.9 s → 3.1 s).
    val shared = stage.pinned(joined, col("id1"), col("id2"))
      .groupBy(col("id1"), col("id2"))
      .agg(count(lit(1)).as("shared"))
    shared
      .join(sizes.select(col("id").as("id1"), col("n_shingles").as("n1")), "id1")
      .join(sizes.select(col("id").as("id2"), col("n_shingles").as("n2")), "id2")
      .withColumn("jaccard",
        col("shared") / (col("n1") + col("n2") - col("shared")))
      .filter(col("jaccard") >= threshold)
      .select("id1", "id2", "jaccard")
  }

  /** Long-form MinHash signature: one row per (id, seed) with the minimum
    * md5(shingle || '#' || seed) — md5's uniformity makes the lexicographic
    * min over hex digests a valid MinHash permutation per seed. */
  def minhashLong(docs: DataFrame, idCol: String, textCol: String,
                  k: Int, numHashes: Int): DataFrame = {
    val sh = shingles(docs, idCol, textCol, k)
    sh.withColumn("seed", explode(sequence(lit(0), lit(numHashes - 1))))
      .withColumn("h", md5(concat(col("shingle"), lit("#"), col("seed"))))
      .groupBy("id", "seed")
      .agg(min(col("h")).as("mh"))
  }

  /** MinHash-LSH candidate pairs (id1 < id2, distinct).
    *
    * Scale: the bucket join carries `contentKey(band_sig)` (8 bytes), not
    * the band signature itself (rowsPerBand × 32-char hex ≈ 130 B) — at a
    * 10^10-document corpus the candidate-join shuffle is the dominant
    * exchange and its width is the key width. */
  def lshCandidates(docs: DataFrame, idCol: String, textCol: String,
                    k: Int, numHashes: Int, rowsPerBand: Int): DataFrame = {
    // r7: the signature is ONE wide aggregation instead of the long-form
    // minhashLong → band-signature chain. The old plan exploded every
    // (id, shingle) row numHashes ways, shuffled (id, seed, 32-char hex)
    // rows into groupBy(id, seed), then shuffled AGAIN into
    // groupBy(id, band) with a collect_list sort. Here the numHashes min()
    // aggregates compute per-seed minhashes as columns with map-side
    // partial combine — one (id)-keyed exchange carrying one narrow row
    // per id per partition, two exchanges removed. The md5 count and the
    // per-band ordered concat are unchanged, so the band signatures (and
    // the pair set) are bit-identical (q22 oracle; minhashLong stays
    // as the long-form operator q21 pins).
    val mhAggs = (0 until numHashes).map { s =>
      min(md5(concat(col("shingle"), lit("#"), lit(s)))).as(s"mh$s")
    }
    val sig = shingles(docs, idCol, textCol, k)
      .groupBy("id").agg(mhAggs.head, mhAggs.tail: _*)
    val nBands = (numHashes + rowsPerBand - 1) / rowsPerBand
    val bandStructs = (0 until nBands).map { b =>
      val sigCols = (b * rowsPerBand until math.min((b + 1) * rowsPerBand, numHashes))
        .map(s => col(s"mh$s"))
      struct(lit(b).as("band"), contentKey(concat_ws(",", sigCols: _*)).as("band_sig"))
    }
    val bands0 = sig
      .select(col("id"), explode(array(bandStructs: _*)).as("e"))
      .select(col("id"), col("e.band").as("band"), col("e.band_sig").as("band_sig"))
    // same bucket-explosion width pin as ngramJaccardPairs
    val bands = stage.pinned(bands0, col("band"), col("band_sig"))
    bands.as("a")
      .join(bands.as("b"),
        col("a.band") === col("b.band") && col("a.band_sig") === col("b.band_sig")
          && col("a.id") < col("b.id"))
      .select(col("a.id").as("id1"), col("b.id").as("id2"))
      .distinct()
  }

  /**
   * SimHash: 64-bit signature from per-token md5 bits, emitted as four
   * 16-bit bands (b0 = bits 0-15 ... b3 = bits 48-63) — all-integer
   * arithmetic, so no bit is lost to a double mantissa (a sum-of-pow(2,bit)
   * assembly silently corrupts any signature with set bits spanning more
   * than 53 positions). The full signature is b0 | b1<<16 | b2<<32 | b3<<48.
   *
   * Bit convention (portable across engines): token hash bit j lives in
   * hex digit j/4 (0-based) of md5(token), at nibble bit j%4 — pure string
   * + integer math that Spark and DuckDB evaluate identically.
   *
   * Banding for scale: two signatures within Hamming distance 3 agree on
   * at least one of the 4 bands (pigeonhole), so `simhashPairs` joins on
   * band equality only — never all-pairs.
   */
  def simhash(docs: DataFrame, idCol: String, textCol: String): DataFrame = {
    val toks = docs.select(col(idCol).as("id"),
        explode(text.wordTokensCol(normText(col(textCol)))).as("token"))
      .groupBy("id", "token").agg(count(lit(1)).as("w"))
      .withColumn("hx", md5(col("token")))
    // 64 per-bit vote sums as ONE wide aggregation (the r7 shape): the
    // old plan exploded 64 bit-rows per (id, token) and shuffled them
    // twice (groupBy(id, bit), then groupBy(id)) — 64× the rows and an
    // extra exchange for arithmetic that is a per-row constant fan-out.
    // Here each (id, token, w) row contributes to 64 sum() columns with
    // map-side partial combine, so the one (id)-keyed shuffle carries one
    // 64-long row per id per partition. Same integer votes (Σ±w is
    // associative), same nibble extraction (strpos on the hex alphabet —
    // conv() has no DuckDB twin), same bit assembly — bit-identical
    // signatures (q24/q44 oracles).
    val nibs = (0 until 16).map { d =>
      (instr(lit("0123456789abcdef"), substring(col("hx"), d + 1, 1)) - 1).cast("int")
    }
    val voteAggs = (0 until 64).map { j =>
      sum(when(pmod(shiftright(nibs(j / 4), j % 4), lit(2)) === 1, col("w"))
        .otherwise(-col("w"))).as(s"v$j")
    }
    val votes = toks.groupBy("id").agg(voteAggs.head, voteAggs.tail: _*)
    def band(b: Int): org.apache.spark.sql.Column =
      (b * 16 until b * 16 + 16).map { j =>
        when(col(s"v$j") > 0, lit(1L << (j % 16))).otherwise(lit(0L))
      }.reduce(_ + _)
    votes.select(col("id"),
      band(0).as("b0"), band(1).as("b1"), band(2).as("b2"), band(3).as("b3"))
  }

  /** SimHash near-dup candidate pairs via 16-bit banding: join documents
    * sharing any exact band (pigeonhole-complete for Hamming distance <= 3),
    * then verify the true distance with bit_count(xor) over the 4 bands.
    * Never compares documents that agree on no band. */
  def simhashPairs(docs: DataFrame, idCol: String, textCol: String,
                   maxHamming: Int = 3): DataFrame = {
    require(maxHamming <= 3,
      "4-band LSH only guarantees recall for Hamming distance <= 3 (pigeonhole)")
    val sig = simhash(docs, idCol, textCol)
    val long0 = sig.select(col("id"), col("b0"), col("b1"), col("b2"), col("b3"),
        explode(array(
          struct(lit(0).as("band"), col("b0").as("bv")),
          struct(lit(1).as("band"), col("b1").as("bv")),
          struct(lit(2).as("band"), col("b2").as("bv")),
          struct(lit(3).as("band"), col("b3").as("bv")))).as("e"))
      .select(col("id"), col("b0"), col("b1"), col("b2"), col("b3"),
        col("e.band").as("band"), col("e.bv").as("bv"))
    // same bucket-explosion width pin as ngramJaccardPairs
    val long = stage.pinned(long0, col("band"), col("bv"))
    long.as("a").join(long.as("b"),
        col("a.band") === col("b.band") && col("a.bv") === col("b.bv")
          && col("a.id") < col("b.id"))
      .select(col("a.id").as("id1"), col("b.id").as("id2"),
        (expr("bit_count(a.b0 ^ b.b0) + bit_count(a.b1 ^ b.b1) + " +
          "bit_count(a.b2 ^ b.b2) + bit_count(a.b3 ^ b.b3)")).as("hamming"))
      .distinct()
      .filter(col("hamming") <= maxHamming)
  }

  /** Embedding-cosine near-dup pairs within a blocking key (e.g., an LSH
    * bucket or a label/category column): avoids the global cross join. */
  def embeddingNearDups(vecs: DataFrame, idCol: String, vecCol: String,
                        blockCol: String, threshold: Double): DataFrame = {
    // r7: per-ROW norm computed before the pair cross (8 extra bytes
    // through the block exchange vs three interpreted array passes per
    // PAIR; dot/(na·nb) keeps cosineCol's exact grouping — bit-identical)
    val v0 = vecs.select(col(idCol).as("id"), col(blockCol).as("blk"),
      similarity.toDoubleArray(col(vecCol)).as("v"))
      .withColumn("n", similarity.normCol(col("v")))
    // same bucket-explosion width pin as ngramJaccardPairs (the per-block
    // pair cross is quadratic in block size, the cosine is CPU-dense)
    val v = stage.pinned(v0, col("blk"))
    v.as("a").join(v.as("b"),
        col("a.blk") === col("b.blk") && col("a.id") < col("b.id"))
      .withColumn("cosine",
        similarity.dotCol(col("a.v"), col("b.v")) / (col("a.n") * col("b.n")))
      .filter(col("cosine") >= threshold)
      .select(col("a.id").as("id1"), col("b.id").as("id2"), col("cosine"))
  }

  /**
   * Random-hyperplane LSH near-dup pairs over an embedding column — the
   * embedding analogue of MinHash/LSH for text: `planes` signed
   * projections give a bit signature whose per-bit collision probability
   * is 1 − θ/π (θ = angle between vectors); the bits are banded and
   * candidates are generated ONLY within (band, band-signature) buckets,
   * then verified by exact cosine ≥ `threshold`. This is the scale path
   * `embeddingNearDups` lacks when no natural blocking key exists: no
   * caller-supplied blocks, no all-pairs cross — candidate volume is set
   * by the banding dial exactly like the text LSH.
   *
   * Determinism / oracle-portability: the ±1 hyperplane matrix derives
   * from md5("hp:<plane>:<dim>") (the DuckDB twin reconstructs the
   * identical matrix from the same strings), and the projections run in
   * 10^6 fixed-point (BIGINT sums — associative, so the sign bit is
   * partition- and engine-invariant even at the boundary).
   *
   * Scale: signatures are one codegen pass over the vector table (the
   * weight matrix is a literal — no join, no shuffle); the bucket
   * self-join carries (id, band, sig) integer rows and gets the explicit
   * `stage.pinned(band, sig)` width pin (AQE sizes the exchange by input
   * bytes, not the quadratic per-bucket explosion — the 1-task disease);
   * the exact-cosine verify joins the distinct candidate PAIRS back to
   * the vector table by id instead of dragging vectors through the
   * bucket shuffle.
   *
   * Sizing the dial: a band signature has `planes/bands` bits, so the
   * keyspace per band is 2^(planes/bands) — with clustered embeddings a
   * too-coarse signature (e.g. 4 bits = 16 buckets) collapses whole
   * clusters into one bucket whose pair explosion lands on ONE task (the
   * repartition pin spreads BUCKETS, it cannot split one hot bucket;
   * measured: 7 CPU-s single-task at 5k vectors/4-bit bands vs
   * milliseconds at 8-bit). Use ≥8-bit bands, and `maxBucket` (> 0) as
   * the hot-bucket guard — the LSH analogue of the shingle df-cap: a
   * bucket larger than the cap is dropped from candidate generation,
   * bounding per-task work; its genuinely-similar members still surface
   * through their other bands.
   */
  def embeddingLshPairs(vecs: DataFrame, idCol: String, vecCol: String,
                        planes: Int = 32, bands: Int = 4,
                        threshold: Double = 0.8,
                        maxBucket: Long = 0L): DataFrame = {
    require(planes > 0 && bands > 0 && planes % bands == 0,
      s"planes must be a positive multiple of bands, got planes=$planes bands=$bands")
    require(planes / bands <= 62, "band signature must fit a BIGINT")
    val r = planes / bands
    // one cheap dimension peek: the weight matrix is a literal sized to the
    // data's dimensionality. Fail loudly on a degenerate dimension: dim = 0
    // would collapse EVERY signature into the (band, 0) bucket — the
    // quadratic one-task explosion the width pin cannot split.
    val peek = similarity.vectorDim(vecs, vecCol)
    peek.foreach(d => require(d > 0,
      s"embeddingLshPairs: vector column '$vecCol' has dimension $d"))
    val dim = peek.getOrElse(0)
    val md = java.security.MessageDigest.getInstance("MD5")
    def wSign(p: Int, d: Int): Long = {
      val hex = md.digest(s"hp:$p:$d".getBytes("UTF-8"))
        .map("%02x".format(_)).mkString
      if (BigInt(hex.take(15), 16) % 2 == 0) 1L else -1L
    }
    val wLit = typedLit((0 until planes).map(p =>
      (0 until dim).map(d => wSign(p, d))))
    val pow2 = typedLit((0 until r).map(i => 1L << i))
    val sig0 = vecs.select(col(idCol).as("id"),
        similarity.toFixedPoint(col(vecCol)).as("xf"))
      .withColumn("bits", transform(sequence(lit(0), lit(planes - 1)), p =>
        when(aggregate(
            zip_with(col("xf"), element_at(wLit, (p + 1).cast("int")),
              (x, w) => x * w),
            lit(0L), (acc, x) => acc + x) >= 0L, lit(1L)).otherwise(lit(0L))))
      .select(col("id"), explode(transform(sequence(lit(0), lit(bands - 1)), b =>
        struct(b.as("band"),
          aggregate(sequence(lit(0), lit(r - 1)), lit(0L), (acc, i) =>
            acc + element_at(col("bits"), (b * r + i + 1).cast("int")) *
              element_at(pow2, (i + 1).cast("int"))).as("sig")))).as("e"))
      .select(col("id"), col("e.band").as("band"), col("e.sig").as("sig"))
    val sig1 = stage.pinned(sig0, col("band"), col("sig"))
    val sig = if (maxBucket > 0) {
      // bucket-size window runs on the pinned exchange (same keys)
      val wB = Window.partitionBy(col("band"), col("sig"))
      sig1.withColumn("_n", count(lit(1)).over(wB))
        .filter(col("_n") <= maxBucket).drop("_n")
    } else sig1
    val pairs = sig.as("a").join(sig.as("b"),
        col("a.band") === col("b.band") && col("a.sig") === col("b.sig")
          && col("a.id") < col("b.id"))
      .select(col("a.id").as("id1"), col("b.id").as("id2"))
      .distinct()
    // r7: per-ROW norm on the vector table before the verify joins (same
    // dot/(n1·n2) grouping as cosineCol — bit-identical; one array pass
    // per pair instead of three, see embeddingNearDups)
    val vtab = vecs.select(col(idCol).as("id"),
      similarity.toDoubleArray(col(vecCol)).as("v"))
      .withColumn("n", similarity.normCol(col("v")))
    pairs
      .join(vtab.select(col("id").as("id1"), col("v").as("v1"), col("n").as("n1")), Seq("id1"))
      .join(vtab.select(col("id").as("id2"), col("v").as("v2"), col("n").as("n2")), Seq("id2"))
      .withColumn("cosine",
        similarity.dotCol(col("v1"), col("v2")) / (col("n1") * col("n2")))
      .filter(col("cosine") >= threshold)
      .select(col("id1"), col("id2"), col("cosine"))
  }

  /**
   * Duplicated-substring span detection — the corpus-level EXACT-SUBSTRING
   * dedup of Lee et al. 2022 ("Deduplicating Training Data Makes Language
   * Models Better"), re-expressed for Spark: instead of a monolithic
   * suffix array (their single-node ExactSubstr tool), mark every token
   * position covered by a word k-gram that occurs at least `minDf` times
   * in the whole corpus (within OR across documents — total occurrences,
   * the suffix-array semantics), then merge overlapping [pos, pos+k)
   * windows into maximal spans per document. A span of length L ≥ k
   * duplicated verbatim elsewhere is exactly a run of L−k+1 duplicated
   * k-grams, so the merged spans coincide with the suffix-array answer
   * for duplicates ≥ k tokens; shorter repeats are below the k threshold
   * by construction (same knob as their minimum match length).
   *
   * Returns one row per maximal span: (id, span_start, span_end) —
   * token indices, end exclusive.
   *
   * Scale (the reason this beats porting the suffix array): three
   * shuffle-light passes, nothing quadratic and nothing driver-side —
   *   1. k-gram occurrence counts: one corpus scan, keys reduced to
   *      8-byte `contentKey`s, hash-agg with map-side combine;
   *   2. the duplicate-key join back: the surviving key set is usually
   *      eval-suite-small → stats/AQE broadcast; when it is not, the join
   *      is 1-to-few on a hashed 8-byte key (output ≤ input positions —
   *      no bucket explosion, so AQE byte-sizing is sound and no explicit
   *      width pin is needed, unlike the bucket self-joins above);
   *   3. span merge: a doc-keyed gaps-and-islands window — per-task work
   *      is O(duplicate positions of that doc), bounded by document
   *      length, with no corpus-wide sort.
   */
  def duplicateSpans(docs: DataFrame, idCol: String, textCol: String,
                     k: Int, minDf: Long = 2L): DataFrame = {
    require(k >= 2, s"k-gram length must be >= 2, got $k")
    val kg = docs
      .select(col(idCol).as("id"), text.wordTokensCol(col(textCol)).as("toks"))
      // trailing positions > size-k yield null and are filtered BEFORE
      // posexplode, so pos keeps the original 0-based token index
      .select(col("id"), posexplode(filter(
        transform(col("toks"), (_, i) =>
          when(i <= size(col("toks")) - k,
            array_join(slice(col("toks"), i + 1, lit(k)), " "))),
        s => s.isNotNull)))
      .select(col("id"), col("pos"), contentKey(col("col")).as("kgk"))
    val dupKeys = kg.groupBy("kgk").agg(count(lit(1)).as("df"))
      .filter(col("df") >= minDf).select("kgk")
    val dupPos = kg.join(dupKeys, Seq("kgk"))
      .select(col("id"), col("pos").cast("long").as("pos"))
    val w = Window.partitionBy("id").orderBy("pos")
    val runMax = max(col("end")).over(
      w.rowsBetween(Window.unboundedPreceding, -1))
    dupPos.withColumn("end", col("pos") + k)
      .withColumn("new_span",
        when(runMax.isNull || col("pos") > runMax, 1).otherwise(0))
      .withColumn("span",
        sum(col("new_span")).over(w.rowsBetween(Window.unboundedPreceding, 0)))
      .groupBy(col("id"), col("span"))
      .agg(min(col("pos")).as("span_start"), max(col("end")).as("span_end"))
      .select(col("id"), col("span_start"), col("span_end"))
  }
}
