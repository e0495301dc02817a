package graft.pipeline

import java.sql.Timestamp

/** Row types at every stage boundary (SURVEY.md §1 "Spark engine data
  * model"). All typed Datasets inside the engine; DataFrame only at IO
  * edges. */

/** The input table per BASELINE.json `input_hint`:
  * (url string, warc_ts timestamp, html binary, text string, lang string). */
final case class Page(
    url: String,
    warc_ts: Timestamp,
    html: Array[Byte],
    text: String,
    lang: String)

/** Extracted-text row (stage: HTML→text). */
final case class Doc(url: String, text: String, lang: String)

final case class ChunkRow(
    url: String,
    chunk_id: Int,
    text: String,
    start_offset: Long,
    end_offset: Long)

final case class ResolvedRow(
    url: String,
    chunk_id: Int,
    resolved_text: String,
    mention_map: Map[String, String])

final case class MentionRow(
    url: String,
    chunk_id: Int,
    surface: String,
    entity_type: String,
    start: Int,
    end: Int,
    confidence: Double)

/** Normalized triple with provenance (reference Provenance,
  * /root/reference/src/types.rs:91-112, carried per-row).
  * span_start/span_end index the supporting sentence into the RESOLVED
  * chunk text (Coref.resolve(chunk).resolvedText — the text the
  * reference also attaches, extractor.rs:654-656); source_text is that
  * sentence, so every triple is traceable to the words that stated it
  * without re-running the pipeline. Sentence grain, not the reference's
  * whole-chunk grain: strictly more precise, and bounded per row. */
final case class TripleRow(
    url: String,
    subj: String, // slugified subject (normalize.rs:27-31 convention)
    pred: String, // dictionary-canonicalized + stemmed predicate
    obj: String, // verbatim object (nested-entity name or literal)
    obj_slug: String, // kernel slug of obj when entity, "" for literals
    subj_surface: String,
    obj_is_entity: Boolean,
    subj_type: String,
    obj_type: String,
    chunk_id: Int,
    sent_idx: Int,
    confidence: Double,
    method: String,
    span_start: Int = 0,
    span_end: Int = 0,
    source_text: String = "")

/** KB label row (SURVEY.md §1 KB store mapping). */
final case class KbEntry(uri: String, label: String, label_lc: String, types: Seq[String])

final case class GoldTriple(url: String, subj: String, pred: String, obj: String)

/** Graph output tables (north rule: Iceberg node/edge tables). */
final case class Node(iri: String, entity_type: String, name: String, slug: String)
final case class Edge(src_iri: String, pred: String, dst_iri: String, obj_literal: String, is_literal: Boolean)
