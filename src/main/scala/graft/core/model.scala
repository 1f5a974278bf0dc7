package graft.core

/** Typed data model for the KG-construction engine.
  *
  * Mirrors the reference's per-document abstractions (see SURVEY.md §1.1;
  * reference: helpers/brat_json_converter.py:30-134,
  * helpers/example_generation_cross_sentence_MD.py:231-237) re-expressed as
  * Spark `Dataset[T]` row types. Schema lives in the case classes so every
  * stage boundary is compile-time checked — the engine analog of the
  * reference's eager `program_halt` schema validation
  * (brat_json_converter.py:228-242).
  */

/** One interleaved span of a document — the BASELINE input_hint shape.
  * `kind` ∈ {text, media}; text spans carry sentence-bearing `text`
  * (media_ref empty); media spans carry `media_ref` (text empty) and occupy
  * one virtual char so offsets stay strictly increasing.
  */
case class Span(kind: String, text: String, media_ref: String, offset: Int)

/** A document row of the input table:
  * (doc_id string, spans array<struct<kind,text,media_ref,offset>>). */
case class Doc(doc_id: String, spans: Seq[Span])

/** A sentence with document-absolute char offsets
  * (cf. brat_json_converter.py:30-49 scispacy splitting → here a
  * deterministic rule-based splitter, SURVEY.md S3). */
case class Sentence(doc_id: String, sent_id: Int, bgn: Int, end: Int, text: String)

/** An entity mention (the reference's `T` line + `#` AnnotatorNotes STRING
  * id, brat_json_converter.py:77-88): doc-absolute [bgn,end) char span,
  * linked `norm_id` from the dictionary, `sent_id` from interval containment
  * (SURVEY.md J1). */
case class Mention(doc_id: String, mention_id: String, tag: String,
                   bgn: Int, end: Int, text: String, norm_id: String, sent_id: Int)

/** An unordered candidate entity pair (example_generation_cross_sentence_MD
  * .py:231-237,271-287). `e1` is the first-occurring mention by char offset
  * (reference rule :311-317); `sent_dist` = |sent(e1) - sent(e2)|. */
case class CandidatePair(doc_id: String, e1: String, e2: String,
                         e1_norm: String, e2_norm: String,
                         e1_bgn: Int, e1_end: Int, e2_bgn: Int, e2_end: Int,
                         sent_id1: Int, sent_id2: Int,
                         sent_dist: Int, cross_sentence: Boolean)

/** A candidate pair with its encoded token window
  * (ann_io_generator_cross_sentence_MD.py:158-297): `tokens` is the
  * max_seq_len-bounded window (entity marking/masking applied), `fitted`
  * is the reference's max-seq-len fit predicate (F5, :178-181). Unfitted
  * gold positives become false negatives downstream, exactly like
  * ann_io:401-523. */
case class EncodedPair(doc_id: String, e1: String, e2: String,
                       e1_norm: String, e2_norm: String,
                       sent_dist: Int, cross_sentence: Boolean,
                       tokens: Seq[String], tokenBgns: Seq[Int], tokenEnds: Seq[Int],
                       tokenDistance: Int, fitted: Boolean)

/** Scorer output: identity columns preserved on-row (the reference's
  * positional pair_tracking join J5 is thereby eliminated) + pseudo-logits
  * (score_neg, score_pos) matching the reference's 2-class output
  * (large_scale_prediction_pipeline_pt.py:445-455). */
case class ScoredPair(doc_id: String, e1: String, e2: String,
                      e1_norm: String, e2_norm: String,
                      sent_dist: Int, tokens: Seq[String],
                      tokenBgns: Seq[Int], tokenEnds: Seq[Int],
                      score_neg: Double, score_pos: Double)

/** An emitted KG triple; `subj`/`obj` are canonical node ids with
  * subj <= obj for the undirected Complex_formation relation
  * (evalsorel.py:13-15 symmetric-type semantics). */
case class Triple(doc_id: String, subj: String, pred: String, obj: String,
                  e1: String, e2: String, score_neg: Double, score_pos: Double)

/** A trigger-word row (LargeScaleTriggerDetectionPipeline README 9-col TSV,
  * large_scale_explanation_pipeline.py:490-502). */
case class Trigger(doc_id: String, e1: String, e2: String,
                   bgn: Int, end: Int, text: String, score: Double)

/** A KG node (materialized node table). */
case class Node(node_id: String, tag: String, surfaces: Seq[String], n_mentions: Long)

/** Dictionary row for mention detection + entity linking (the engine analog
  * of the corpus's precomputed `T` entities + `#`-note STRING ids —
  * FIXTURES.md §2). */
case class DictEntry(surface: String, norm_id: String, tag: String)

/** An equivalence edge between node ids (alias sets / per-doc Equiv lines,
  * brat_json_converter.py:103-107); input of connected-components
  * canonicalization (SURVEY.md J6). */
case class EquivEdge(src: String, dst: String)

/** Gold fixtures (FIXTURES.md §3-4). */
case class GoldRelation(doc_id: String, rel_type: String, arg1_norm: String, arg2_norm: String)
/** `bgn`/`end`: UTF-16 offsets into the doc text, like every engine span
  * ([[graft.ingest.BratParser]] converts brat's codepoints); first span. */
case class GoldMention(doc_id: String, t_id: String, tag: String,
                       bgn: Int, end: Int, text: String, norm_id: String)

/** Per-partition lineage/metrics row (SURVEY.md S9): enables exact resume —
  * completed buckets are skipped on restart. */
case class LineageRow(bucket: Int, n_docs: Long, n_triples: Long,
                      status: String, error: String)

/** A document quarantined by ingest validation (SURVEY.md S2/X1). */
case class QuarantineRow(doc_id: String, reason: String)

/** One row of the pipeline's single fused extraction pass — a tagged union
  * so scored pairs, unfitted-pair statistics, and mention rows all come out
  * of ONE scan over the corpus (kind: 0 = scored, 1 = unfitted, 2 =
  * mention). Fields irrelevant to a kind are null/0. */
case class PassRow(kind: Int, scored: ScoredPair,
                   doc_id: String, e1: String, e2: String,
                   e1_norm: String, e2_norm: String,
                   sent_dist: Int, tokenDistance: Int,
                   norm_id: String, surface: String)
