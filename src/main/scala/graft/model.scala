package graft

import java.sql.Timestamp

/**
 * Core row types of the graft engine (explicit schemas everywhere — the
 * reference keeps schemas implicit in dict conventions / TSV headers, e.g.
 * mapping columns at /root/reference/bertmap/map/onto_map.py:144; we declare
 * them as case classes + Encoders.product so every source read fails fast on
 * drift).
 */
object model {

  /** One transcript turn — the authoritative graft input shape
    * (BASELINE.json input_hint): Iceberg-style table of multi-turn
    * conversation / agent transcripts. */
  final case class Turn(
      conv_id: String,
      turn_idx: Int,
      role: String,
      text: String,
      tool: String, // nullable
      ts: Timestamp)

  /** A detected entity mention inside a turn (mention-detect stage). */
  final case class Mention(
      conv_id: String,
      turn_idx: Int,
      onto: String,      // which catalog side the surface form resolved to
      class_iri: String, // entity the surface form belongs to
      surface: String)   // matched surface form (normalized)

  /** A catalog entity ("class" in the reference's ontology terminology) with
    * its bag of label strings — cf. classtexts, onto_text.py:53,72-85. */
  final case class ClassText(
      onto: String,      // "src" | "tgt"
      class_iri: String,
      class_idx: Long,   // dense, deterministic (orderBy class_iri)
      labels: Seq[String])

  /** Hierarchy edge (child is-a parent) — cf. onto_box.py:154-161. */
  final case class Edge(onto: String, child_iri: String, parent_iri: String)
}
