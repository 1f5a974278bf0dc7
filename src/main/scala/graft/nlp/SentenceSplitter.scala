package graft.nlp

import graft.core.{Doc, Sentence, Span}

/** Deterministic rule-based sentence splitter (SURVEY.md S3).
  *
  * The reference splits with scispacy `en_core_sci_sm`
  * (helpers/brat_json_converter.py:13-24,30-49); no such model exists on the
  * JVM, so the engine uses a deterministic boundary rule that is exact on
  * the synthetic corpora (FIXTURES.md: unambiguous ". " boundaries) and
  * documented as an approximation on free text.
  *
  * Boundary rule: a sentence ends at `.`, `!` or `?` when followed by
  * whitespace or end-of-span. Sentences never cross span boundaries
  * (documents arrive pre-split into interleaved text/media `spans`;
  * sentence text is drawn from `kind == "text"` spans only). Offsets are
  * document-absolute: span.offset + local offset, so downstream interval
  * containment (J1) works in one char coordinate space — the same space the
  * reference keeps for entity spans (brat_json_converter.py:200-226).
  *
  * Pure function usable inside a narrow `flatMap` — no shuffle.
  */
object SentenceSplitter extends Serializable {

  private val boundaryChars = Set('.', '!', '?')

  /** Split one text blob into [bgn,end) local char ranges. */
  def boundaries(text: String): Seq[(Int, Int)] = {
    val out = Seq.newBuilder[(Int, Int)]
    var start = 0
    var i = 0
    val n = text.length
    while (i < n) {
      val c = text.charAt(i)
      if (boundaryChars.contains(c) && (i + 1 == n || text.charAt(i + 1).isWhitespace)) {
        out += ((start, i + 1))
        i += 1
        while (i < n && text.charAt(i).isWhitespace) i += 1
        start = i
      } else i += 1
    }
    if (start < n) {
      // trailing sentence without terminal punctuation
      var e = n
      while (e > start && text.charAt(e - 1).isWhitespace) e -= 1
      if (e > start) out += ((start, e))
    }
    out.result()
  }

  /** Sentences of one document, with doc-absolute offsets and dense
    * sent_ids in document order (the reference keys sentences s0,s1,…,
    * brat_json_converter.py:30-49). */
  def split(doc: Doc): Seq[Sentence] = {
    var sid = 0
    val out = Seq.newBuilder[Sentence]
    doc.spans.foreach { sp =>
      if (sp.kind == "text" && sp.text.nonEmpty) {
        boundaries(sp.text).foreach { case (b, e) =>
          out += Sentence(doc.doc_id, sid, sp.offset + b, sp.offset + e,
            sp.text.substring(b, e))
          sid += 1
        }
      }
    }
    out.result()
  }

  /** Reconstructed text-only document content placed at absolute offsets
    * (media spans are opaque; they occupy their `offset` position but carry
    * no sentence text). Used by the tokenizer and window encoder so char
    * offsets agree across stages. A media span may carry null text
    * (DocValidator accepts it): it counts as length 0, as in the validator. */
  def docText(doc: Doc): String = {
    val end = doc.spans.lastOption
      .map(s => s.offset + (if (s.text == null) 0 else s.text.length)).getOrElse(0)
    val sb = new java.lang.StringBuilder()
    sb.setLength(end)
    var i = 0
    while (i < end) { sb.setCharAt(i, ' '); i += 1 }
    doc.spans.foreach { sp =>
      if (sp.kind == "text") sb.replace(sp.offset, sp.offset + sp.text.length, sp.text)
    }
    sb.toString
  }
}
