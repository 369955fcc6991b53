package graft.operators

import org.apache.spark.sql.{Dataset, SparkSession}
import org.apache.spark.sql.functions._
import graft.model._
import graft.functions.text

/**
 * Mention detection: link turn text to catalog entities by surface form.
 *
 * Stand-in for the north_star's "batched BERT-style mention detection":
 * a dictionary matcher over word n-grams, executed as a *batched*
 * mapPartitions hop with the surface-form dictionary shipped via
 * SparkContext.broadcast — the identical physical contract (broadcast
 * weights/vocab + per-partition batching) a neural tagger would use; only
 * the kernel differs. Per-conversation ordering is preserved because
 * detection is per-row (conv_id, turn_idx are carried through untouched).
 */
object mentions {

  /** Token-trie over surface forms: the detection kernel walks it with
    * zero per-candidate string building (the naive n-gram scan allocates
    * maxWords joined strings per token position — at 10^12 turns that
    * allocation rate makes the job GC-bound and kills core scaling;
    * measured on local[32]: the trie kernel scales, the n-gram scan
    * anti-scales). */
  final class TrieNode extends Serializable {
    var matches: List[(String, String, String)] = Nil // (onto, iri, surface)
    var children: java.util.HashMap[String, TrieNode] = _
    def child(tok: String): TrieNode =
      if (children == null) null else children.get(tok)
    def ensureChild(tok: String): TrieNode = {
      if (children == null) children = new java.util.HashMap[String, TrieNode]()
      var n = children.get(tok)
      if (n == null) { n = new TrieNode; children.put(tok, n) }
      n
    }
  }

  /** Build the broadcastable dictionary: normalized surface form →
    * (onto, class_iri). Multiple entities may share a surface; all match. */
  def surfaceDict(classes: Seq[ClassText]): Map[String, Seq[(String, String)]] =
    classes
      .flatMap(c => text.normalizeLabels(c.labels).map(l => (l, (c.onto, c.class_iri))))
      .groupBy(_._1)
      .map { case (k, v) => (k, v.map(_._2).distinct) }

  def buildTrie(dict: Map[String, Seq[(String, String)]]): TrieNode = {
    val root = new TrieNode
    dict.foreach { case (surface, ents) =>
      val toks = text.wordTokens(surface)
      if (toks.nonEmpty) {
        var node = root
        toks.foreach(t => node = node.ensureChild(t))
        node.matches = ents.map { case (o, i) => (o, i, surface) }.toList ::: node.matches
      }
    }
    root
  }

  /** Allocation-light tokenizer: lowercase alnum runs, manual scan (the
    * regex split allocates intermediate arrays per call). At the first
    * non-ASCII char it returns `text.wordTokens` instead: Unicode
    * lowercasing can map such a char into a-z (U+212A KELVIN SIGN → "k",
    * U+0130 → "i" + U+0307), and the dictionary side and the join linker
    * tokenize with that full lowercasing. */
  def fastTokens(txt: String): Array[String] = {
    val out = new scala.collection.mutable.ArrayBuffer[String](16)
    val n = txt.length
    var i = 0
    val sb = new java.lang.StringBuilder(24)
    while (i < n) {
      val c = txt.charAt(i)
      if (c >= 0x80) return text.wordTokens(txt).toArray
      val lc = if (c >= 'A' && c <= 'Z') (c + 32).toChar else c
      if ((lc >= 'a' && lc <= 'z') || (lc >= '0' && lc <= '9')) sb.append(lc)
      else if (sb.length > 0) { out += sb.toString; sb.setLength(0) }
      i += 1
    }
    if (sb.length > 0) out += sb.toString
    out.toArray
  }

  /** Detect mentions: longest-match-first trie walk over the token stream.
    * Per-turn dedup via a hash set (lazily allocated — most turns emit 0-1
    * matches and never pay for it), not List.contains: a pathological turn
    * matching m entities would make the scan O(m²). */
  def detectInTrie(root: TrieNode, toks: Array[String]): List[(String, String, String)] = {
    var out: List[(String, String, String)] = Nil
    var seen: java.util.HashSet[(String, String, String)] = null
    var i = 0
    while (i < toks.length) {
      var node = root
      var j = i
      var bestEnd = -1
      var bestMatches: List[(String, String, String)] = Nil
      var continue = true
      while (continue && j < toks.length) {
        node = node.child(toks(j))
        if (node == null) continue = false
        else {
          if (node.matches.nonEmpty) { bestEnd = j; bestMatches = node.matches }
          j += 1
        }
      }
      if (bestEnd >= 0) {
        if (seen == null) seen = new java.util.HashSet[(String, String, String)](8)
        bestMatches.foreach(m => if (seen.add(m)) out = m :: out)
        i = bestEnd + 1
      } else i += 1
    }
    out.reverse
  }

  /** Per-conversation stabilization: the BASELINE invariant device —
    * windows over (conv_id, turn_idx) pin a total order on the mention
    * stream regardless of partitioning, and duplicate (turn, entity)
    * evidence collapses deterministically: the surviving surface is
    * min(surface), NOT dropDuplicates' arbitrary partition-order survivor
    * (an entity matched via two different surfaces in one turn would
    * otherwise make `mention_ord` partition-dependent). The window order
    * (turn_idx, onto, class_iri) is a total key after the groupBy, so
    * `mention_ord` is the stable per-conversation ordinal downstream
    * consumers key on. Returns `Mention`'s five columns plus `mention_ord`;
    * any other input column is dropped. */
  def stabilize(mens: org.apache.spark.sql.DataFrame,
                widthHint: Int = 0): org.apache.spark.sql.DataFrame = {
    import org.apache.spark.sql.expressions.Window
    // ONE conv_id-partitioned shuffle serves both the dedup and the
    // ordinal (a groupBy on the 4-col key would add a second, transcript-
    // proportional exchange): sorted by (turn, onto, class, surface), the
    // FIRST row of each (turn, onto, class) group carries min(surface) —
    // the lag() comparison keeps exactly it — and the ordinal window's
    // required sort is a prefix of the dedup window's, so Catalyst plans
    // no second exchange or sort.
    val keyCols = Seq("conv_id", "turn_idx", "onto", "class_iri", "surface")
    require(keyCols.forall(mens.columns.contains),
      s"stabilize needs columns $keyCols, got ${mens.columns.toSeq}")
    val wAll = Window.partitionBy(col("conv_id"))
      .orderBy(col("turn_idx").asc, col("onto").asc, col("class_iri").asc,
        col("surface").asc)
    val wOrd = Window.partitionBy(col("conv_id"))
      .orderBy(col("turn_idx").asc, col("onto").asc, col("class_iri").asc)
    val firstOfGroup =
      lag(col("turn_idx"), 1).over(wAll).isNull ||
        lag(col("turn_idx"), 1).over(wAll) =!= col("turn_idx") ||
        lag(col("onto"), 1).over(wAll) =!= col("onto") ||
        lag(col("class_iri"), 1).over(wAll) =!= col("class_iri")
    // widthHint > 0 (`stage.width` from Pipeline.run) pins the conv_id
    // exchange at that width: the mention stream is
    // transcript-proportional (the 12M-turn bench run shuffles
    // ~490 MB through this ONE exchange), and the default
    // shuffle.partitions is sized for the catalog-side tiny stages —
    // measured 119 core-s squeezed into 10 tasks at local[32] without the
    // pin. HashPartitioning(conv_id) satisfies both window distributions,
    // so the explicit exchange REPLACES the window's own, never adds one.
    val keyed = mens.select(keyCols.map(col): _*)
    val in = if (widthHint > 0)
      keyed.repartition(widthHint, col("conv_id")) else keyed
    in
      .withColumn("_first", firstOfGroup)
      .filter(col("_first")).drop("_first")
      .withColumn("mention_ord", row_number().over(wOrd))
  }

  /** Single-string convenience wrapper over the trie kernel (tests, small
    * callers). Like the trie, it matches surfaces of any token length. */
  def detectInText(dict: Map[String, Seq[(String, String)]],
                   txt: String): Seq[(String, String, String)] =
    detectInTrie(buildTrie(dict), fastTokens(txt))

  /** Distributed surface dictionary: (key, onto, class_iri, surface) where
    * `key` is the token-joined normal form the n-gram join matches on —
    * the same canonicalization the trie applies (normalize → wordTokens),
    * so a surface like "Heart_Failure" and the turn text "heart failure"
    * meet on the identical key in both kernels. */
  def surfaceDictDf(classes: Dataset[ClassText]): org.apache.spark.sql.DataFrame =
    classes.toDF()
      .select(col("onto"), col("class_iri"),
        explode(text.normalizeLabelsCol(col("labels"))).as("surface"))
      .withColumn("key", array_join(text.wordTokensCol(col("surface")), " "))
      .filter(length(col("key")) > 0)
      .select("key", "onto", "class_iri", "surface")
      .distinct()

  /** Join-based mention detect — the NO-COLLECT fallback for catalogs past
    * `maxDictEntities` (a 10^8-surface dictionary cannot be collected to
    * the driver and broadcast as a trie). Same output contract and greedy
    * longest-match semantics as `detect`:
    *
    *   1. each turn explodes to word n-grams (n up to the longest
    *      surface) keyed by start position — transcript-proportional but
    *      shuffle-free until the dictionary join;
    *   2. n-grams join the distributed dictionary on the canonical key
    *      (Spark picks broadcast vs shuffle join from the dict's size
    *      statistics — exactly the degradation path wanted: small dict ⇒
    *      broadcast ≈ trie economics, huge dict ⇒ shuffle join still works);
    *   3. per-turn greedy resolution (leftmost position, longest match,
    *      jump past it) runs in a flatMapGroups over the turn's matched
    *      spans — per-turn state only, so it distributes like any other
    *      per-row kernel.
    *
    * MentionsSpec pins detectJoin ≡ detect on the fixture.
    *
    * The n-gram explode width is derived from the dictionary: a position
    * explodes only as far as the longest surface its token starts, so the
    * join kernel matches every dictionary surface — the same contract as
    * the trie kernel, which is bounded only by trie depth. */
  def detectJoin(spark: SparkSession, turns: Dataset[Turn],
                 classes: Dataset[ClassText]): Dataset[Mention] = {
    import spark.implicits._
    val dict = surfaceDictDf(classes)
    val toks = turns
      .select(col("conv_id"), col("turn_idx"), col("text"))
      .withColumn("toks", text.wordTokensCol(col("text")))
      // guard BEFORE the position explode: Spark's sequence(1, 0) yields a
      // DESCENDING [1, 0] (not empty), and slice(_, 0, _) throws — an
      // empty/whitespace-only turn would crash the job
      .filter(size(col("toks")) > 0)
    // n-gram generation: explode start positions, prefilter by FIRST
    // token, then one row per length; slice+array_join builds the
    // candidate key codegen-side. The first-token semi-join is the
    // load-bearing pruning step: a match can only start at a position
    // whose token begins some dictionary surface, and mention-bearing
    // positions are sparse in real transcripts — without the filter every
    // position builds one joined string per n (measured on the 12M-turn
    // bench fixture: 416 core-s of gram building vs ~70 core-s for the
    // whole trie kernel; the filter removes ~90% of it). The first-token
    // dimension is distinct-token-bounded, far smaller than the dict.
    // per-first-token max surface length: positions explode only as far as
    // the token at that position can actually START a surface (a dict
    // where most surfaces are single-word then builds almost no multi-word
    // gram strings). NO broadcast hint: the first-token dimension is
    // O(distinct first tokens) — catalog-sized for ID-/code-like surface
    // sets — and this kernel exists precisely for catalogs too big to
    // collect; size statistics (+ AQE's runtime conversion) broadcast it
    // when small and degrade to a shuffle join when not, the same contract
    // as the key join below.
    val firstToks = dict
      .groupBy(split(col("key"), " ").getItem(0).as("tok1"))
      .agg(max(size(split(col("key"), " "))).as("maxw"))
    val grams = toks
      .select(col("conv_id"), col("turn_idx"), col("toks"),
        explode(sequence(lit(1), size(col("toks")))).as("start"))
      .withColumn("tok1", element_at(col("toks"), col("start")))
      .join(firstToks, Seq("tok1"))
      .select(col("conv_id"), col("turn_idx"), col("toks"), col("start"),
        explode(sequence(lit(1),
          least(col("maxw"), size(col("toks")) - col("start") + 1))).as("len"))
      .select(col("conv_id"), col("turn_idx"), col("start"), col("len"),
        array_join(slice(col("toks"), col("start"), col("len")), " ").as("key"))
    // the transcript-proportional shuffle into the greedy kernel carries
    // only (conv, turn, start, len, key) — the entity fan-out (key → all
    // dict entries) is DEFERRED until after greedy resolution has reduced
    // the stream to accepted keys, so the widest exchange of this operator
    // ships one narrow row per matched span, not one per (span × entity).
    // The key join needs only the distinct-key dimension here; join
    // strategy is left to size statistics in both places (small dict ⇒
    // broadcast, huge dict ⇒ shuffle join still works).
    val keys = dict.select("key").distinct()
    val hits = grams.join(keys, "key")
      .select(col("conv_id"), col("turn_idx"), col("start"), col("len"), col("key"))
      .as[(String, Int, Int, Int, String)]
    // greedy longest-match resolution per turn — identical to the trie
    // walk: ascending start, longest span wins, scan resumes past it. The
    // key at an accepted (start, len) is unique (it IS those tokens), and
    // a surface normalizes to exactly one key, so the per-turn distinct-key
    // set maps 1:1 onto the trie kernel's per-turn entity-triple seen-set.
    val accepted = hits.groupByKey(h => (h._1, h._2))
      .flatMapGroups { (key: (String, Int), it: Iterator[(String, Int, Int, Int, String)]) =>
        val (convId, turnIdx) = key
        val spans = it.toArray
        val byStart = spans.groupBy(_._3)
        var out = List.empty[(String, Int, String)]
        val seen = scala.collection.mutable.HashSet.empty[String]
        var i = 1
        val maxStart = if (spans.isEmpty) 0 else spans.map(_._3).max
        while (i <= maxStart) {
          byStart.get(i) match {
            case Some(ms) =>
              val bestLen = ms.map(_._4).max
              val k = ms.find(_._4 == bestLen).get._5
              if (seen.add(k)) out ::= (convId, turnIdx, k)
              i += bestLen
            case None => i += 1
          }
        }
        out.reverse
      }
    accepted.toDF("conv_id", "turn_idx", "key")
      .join(dict, "key")
      .select(col("conv_id"), col("turn_idx").cast("int").as("turn_idx"),
        col("onto"), col("class_iri"), col("surface"))
      .as[Mention]
  }

  /** Transcripts → mentions. Batched mapPartitions with the BUILT trie
    * broadcast once from the driver — executors deserialize it per JVM
    * instead of rebuilding it per partition (at a 10M-surface catalog the
    * per-partition rebuild is repeated executor CPU; TrieNode's
    * HashMap/List graph java-serializes fine and its depth is the longest
    * surface's token count). Projects down to (conv_id, turn_idx, text)
    * BEFORE the scan so parquet column pruning applies — the other
    * transcript columns never leave storage (this matters at 10^12-turn
    * scale far more than kernel speed). */
  def detect(spark: SparkSession, turns: Dataset[Turn],
             classes: Seq[ClassText]): Dataset[Mention] = {
    import spark.implicits._
    val trieBc = spark.sparkContext.broadcast(buildTrie(surfaceDict(classes)))
    turns
      .select(col("conv_id"), col("turn_idx"), col("text"))
      .as[(String, Int, String)]
      .mapPartitions { it =>
        val trie = trieBc.value // built once, shipped once, shared per executor
        it.flatMap { case (convId, turnIdx, txt) =>
          detectInTrie(trie, fastTokens(txt)).map { case (onto, iriStr, surface) =>
            Mention(convId, turnIdx, onto, iriStr, surface)
          }
        }
      }
  }
}
