package graft.pairs

import graft.core._

/** Candidate-pair generation (SURVEY.md §2.3 J3/J4, §2.2 F1-F4).
  *
  * Reference semantics (helpers/example_generation_cross_sentence_MD.py):
  *  - F1 valid-entity filter: tag ∈ configs.entities (:96);
  *  - F3 valid-pair-type predicate over the symmetrized closure (:159-172);
  *  - J3 all unordered mention pairs, `itertools.combinations` (:271-287),
  *    e1 = first-occurring mention by char offset (:311-317);
  *  - F4 sentence-distance prune: negatives skipped when
  *    |sent(e1)-sent(e2)| ≥ k (:275-279) — positives are never pruned;
  *    in prediction mode all candidates are prune-subject (the large-scale
  *    corpus carries no gold relations).
  *
  * Per-document combinations run inside the narrow per-doc pass — the doc
  * is the natural partition unit, so no self-join shuffle amplification
  * (SURVEY.md §2.3 discussion on J3). At 100 TB the candidate count is
  * bounded per doc (≤ a few hundred mentions ⇒ ≤ ~10⁴ pairs), never global.
  */
object PairGenerator extends Serializable {

  /** Unordered candidate pairs of one document. `mentions` must carry
    * sent_ids (from MentionDetector). Pure — usable in flatMap. */
  def forDoc(mentions: Seq[Mention], config: TaskConfig): Seq[CandidatePair] = {
    val valid = mentions
      .filter(m => config.entities.contains(m.tag) && m.sent_id >= 0) // F1
      .sortBy(m => (m.bgn, m.end, m.mention_id))
    for {
      i <- valid.indices
      j <- (i + 1) until valid.length
      a = valid(i); b = valid(j)
      if config.isValidPair(a.tag, b.tag) // F3
      dist = math.abs(a.sent_id - b.sent_id)
      if config.passesDistancePrune(dist) // F4 (negatives/prediction mode)
    } yield CandidatePair(a.doc_id, a.mention_id, b.mention_id,
      a.norm_id, b.norm_id, a.bgn, a.end, b.bgn, b.end,
      a.sent_id, b.sent_id, dist, cross_sentence = dist > 0)
  }

  /** J2 — per-document equiv transitive expansion (reference:
    * example_generation_cross_sentence_MD.py:85-92, :176-208): equiv sets
    * sharing members are unioned (in-group closure), and each positive
    * pair is replicated over e1_equivs × e2_equivs. Used in gold/training
    * mode where `*\tEquiv` lines exist; prediction mode has no positives
    * to expand. */
  def unionEquivSets(sets: Seq[Set[String]]): Seq[Set[String]] = {
    val parent = scala.collection.mutable.HashMap.empty[String, String]
    def find(x: String): String = {
      val p = parent.getOrElse(x, x)
      if (p == x) x else { val r = find(p); parent(x) = r; r }
    }
    sets.foreach { s =>
      s.toSeq.sortBy(identity).sliding(2).foreach {
        case Seq(a, b) =>
          val (ra, rb) = (find(a), find(b))
          if (ra != rb) { if (ra < rb) parent(rb) = ra else parent(ra) = rb }
        case _ =>
      }
    }
    sets.flatten.distinct.groupBy(find).values.map(_.toSet).toSeq
      .sortBy(_.min)
  }

  /** Replicate (e1, e2) positive pairs over their equiv closures; the
    * output keeps unordered-pair uniqueness. */
  def expandPositives(positives: Seq[(String, String)],
                      equivSets: Seq[Set[String]]): Seq[(String, String)] = {
    val closed = unionEquivSets(equivSets)
    val setOf = closed.flatMap(s => s.map(_ -> s)).toMap
    positives.flatMap { case (a, b) =>
      for {
        x <- setOf.getOrElse(a, Set(a)).toSeq
        y <- setOf.getOrElse(b, Set(b)).toSeq
        if x != y
      } yield if (x < y) (x, y) else (y, x)
    }.distinct
  }
}
