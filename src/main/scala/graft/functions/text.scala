package graft.functions

import java.util.Locale
import org.apache.spark.sql.Column
import org.apache.spark.sql.functions._

/**
 * Text normalization / tokenization / analysis — the scalar-function surface
 * of the engine (reference: preprocess_classtexts at
 * /root/reference/bertmap/onto/onto_text.py:146-161, WordPiece tokenization
 * at onto_index.py:38-47).
 *
 * Two parallel implementations are provided on purpose:
 *   - Column-level (org.apache.spark.sql.functions — codegen'd, pushdown- and
 *     oracle-friendly): the production path for everything relational.
 *   - Plain-Scala (used inside mapPartitions scorers and in tests as a tiny
 *     oracle): deterministic, identical semantics.
 */
object text {

  // -------------------------------------------------------------------------
  // Normalization (onto_text.py:158-161: lowercase, '_' -> ' ', dedup labels)
  // -------------------------------------------------------------------------

  /** Spark's `lower` under the root locale, as `toLowerCase(Locale.ROOT)`
    * in the plain-Scala twins. Plain `lower` lowercases any non-ASCII
    * string with the JVM default locale (under tr-TR, "TITLE É" becomes
    * "tıtle é"); the UNICODE collation's lower is ICU's root mapping. */
  private def lowerRoot(c: Column): Column =
    collate(lower(collate(c, "UNICODE")), "UTF8_BINARY")

  /** lowercase + underscores to spaces + collapse whitespace + trim. */
  def normalizeCol(c: Column): Column =
    trim(regexp_replace(lowerRoot(regexp_replace(c, "_", " ")), "\\s+", " "))

  def normalize(s: String): String =
    s.replace('_', ' ').toLowerCase(Locale.ROOT).replaceAll("\\s+", " ").trim

  /** Order-preserving label-list normalization: normalize each, drop empties,
    * dedup keeping first occurrence (matches the reference's
    * dict.fromkeys-based uniqify, general_utils.py:33-35). Spark's
    * array_distinct is order-preserving, matching those semantics. Both
    * twins drop a null label (a null `l =!= ""` fails the filter) and give
    * no label for a null list (the Column twin's null explodes to no
    * rows). */
  def normalizeLabelsCol(labels: Column): Column =
    array_distinct(filter(transform(labels, l => normalizeCol(l)), l => l =!= ""))

  def normalizeLabels(labels: Seq[String]): Seq[String] =
    Option(labels).toSeq.flatten.filter(_ != null).map(normalize).filter(_.nonEmpty).distinct

  // -------------------------------------------------------------------------
  // Tokenization
  // -------------------------------------------------------------------------

  /** Word tokenizer: lowercase alnum runs. The Column form is expressible in
    * ANSI SQL (split on non-alnum) so the DuckDB oracle can reproduce it
    * exactly; used for the inverted index (onto_index.py:49-60 uses WordPiece
    * — sub-word pieces are added on top by `subwordTokens`). */
  def wordTokensCol(c: Column): Column =
    filter(split(lowerRoot(c), "[^a-z0-9]+"), t => t =!= "")

  def wordTokens(s: String): Seq[String] =
    s.toLowerCase(Locale.ROOT).split("[^a-z0-9]+").toSeq.filter(_.nonEmpty)

  /** Piece length of the vocab-free sub-word splitter. */
  private val Piece = 4

  /** Deterministic vocab-free sub-word splitter standing in for WordPiece
    * (onto_index.py:46-47): words longer than `Piece` are additionally split
    * into a head piece and "##"-prefixed continuation pieces of length
    * `Piece`. Purely a function of the input string — what the dataflow
    * requires is tokenize: string -> array<string>, deterministic. */
  def subwordTokens(s: String): Seq[String] =
    wordTokens(s).flatMap { w =>
      if (w.length <= Piece) Seq(w)
      else w.take(Piece) +: w.drop(Piece).grouped(Piece).map("##" + _).toSeq
    }

  /** Column form of `subwordTokens` — the tokenizer the inverted index
    * plugs in to match the reference's WordPiece postings
    * (onto_index.py:46-47). Same closed form as the plain-Scala twin:
    * head piece of `Piece` chars + "##"-prefixed continuations. */
  def subwordTokensCol(c: Column): Column =
    flatten(transform(wordTokensCol(c), w =>
      when(length(w) <= Piece, array(w))
        .otherwise(concat(
          array(substring(w, 1, Piece)),
          transform(sequence(lit(Piece + 1), length(w), lit(Piece)),
            i => concat(lit("##"), w.substr(i, lit(Piece))))))))

  // -------------------------------------------------------------------------
  // Vocab-driven WordPiece (onto_index.py:38-47 tokenizes with a real BERT
  // vocab via AutoTokenizer; this is that algorithm — greedy longest-match
  // with "##" continuation pieces and whole-word [UNK] on any dead end —
  // with the vocab supplied by the caller instead of a fixed checkpoint)
  // -------------------------------------------------------------------------

  val WordpieceUnk = "[UNK]"

  /** Greedy longest-match WordPiece of ONE word (already lowercased
    * alnum): repeatedly take the longest vocab piece at the cursor
    * ("##"-prefixed after the first), no backtracking; if no piece matches
    * at any cursor position the WHOLE word becomes `[UNK]` — exactly the
    * BERT tokenizer's WordpieceTokenizer semantics. */
  def wordpieceWord(vocab: String => Boolean, w: String): List[String] = {
    val n = w.length
    var start = 0
    var out = List.empty[String]
    while (start < n) {
      var end = n
      var hit: String = null
      while (hit == null && end > start) {
        val cand =
          if (start > 0) "##" + w.substring(start, end) else w.substring(start, end)
        if (vocab(cand)) hit = cand else end -= 1
      }
      if (hit == null) return List(WordpieceUnk) // dead end: whole word is [UNK]
      out = hit :: out
      start = end
    }
    out.reverse
  }

  /** WordPiece over a whole string: word-tokenize, then piece each word. */
  def wordpieceTokens(vocab: Set[String], s: String): Seq[String] =
    wordTokens(s).flatMap(w => wordpieceWord(vocab, w))

  /** Column twin of `wordpieceTokens`, pluggable wherever
    * `subwordTokensCol` plugs (the index/pipeline `tokenizer` slot). The
    * vocab is a SparkContext broadcast — fetched once per executor JVM,
    * exactly how the trie linker ships its dictionary. A greedy match
    * against an arbitrary 30k-entry vocab is inherently data-dependent, so
    * this is a (deterministic, JVM-side) Scala UDF rather than a closed
    * Column form — it stays inside the JVM codegen pipeline, unlike a
    * Python UDF. */
  def wordpieceTokensCol(vocab: org.apache.spark.broadcast.Broadcast[Set[String]])
                        (c: Column): Column = {
    val fn = udf { s: String =>
      if (s == null) Seq.empty[String] else wordpieceTokens(vocab.value, s)
    }
    fn(c)
  }

  // -------------------------------------------------------------------------
  // Similarity primitives (scorer building blocks; nes_map.py:73-77)
  // -------------------------------------------------------------------------

  def levenshtein(a: String, b: String): Int = {
    if (a.isEmpty) return b.length
    if (b.isEmpty) return a.length
    val prev = new Array[Int](b.length + 1)
    val cur = new Array[Int](b.length + 1)
    var j = 0
    while (j <= b.length) { prev(j) = j; j += 1 }
    var i = 1
    while (i <= a.length) {
      cur(0) = i
      j = 1
      while (j <= b.length) {
        val cost = if (a.charAt(i - 1) == b.charAt(j - 1)) 0 else 1
        cur(j) = math.min(math.min(cur(j - 1) + 1, prev(j) + 1), prev(j - 1) + cost)
        j += 1
      }
      System.arraycopy(cur, 0, prev, 0, b.length + 1)
      i += 1
    }
    prev(b.length)
  }

  /** Normalized edit similarity = 1 - dist/max(len) (nes_map.py:73-77). */
  def editSimilarity(a: String, b: String): Double = {
    val m = math.max(a.length, b.length)
    if (m == 0) 1.0 else 1.0 - levenshtein(a, b).toDouble / m
  }

  /** Token-set Jaccard over word tokens. */
  def tokenJaccard(a: String, b: String): Double =
    jaccard(wordTokens(a).toSet, wordTokens(b).toSet)

  /** Set Jaccard; two empty sets are identical (1.0). */
  def jaccard(sa: Set[String], sb: Set[String]): Double =
    if (sa.isEmpty && sb.isEmpty) 1.0
    else {
      val inter = sa.intersect(sb).size
      inter.toDouble / (sa.size + sb.size - inter)
    }

  // -------------------------------------------------------------------------
  // Text analysis for training-data pipelines (graft additions)
  // -------------------------------------------------------------------------

  /** Stopword list of the Column-level quality score (q28). */
  val stopWords: Set[String] = Set(
    "the", "a", "an", "and", "or", "of", "to", "in", "on", "for", "with",
    "is", "are", "was", "be", "as", "at", "by", "it", "this", "that")
}
