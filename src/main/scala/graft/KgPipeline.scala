package graft

import graft.canon.ConnectedComponents
import graft.core._
import graft.ingest.DocValidator
import graft.nlp.{AhoCorasick, MentionDetector, SentenceSplitter, Tokenizer}
import graft.nlp.Tokenizer.Token
import graft.pairs.PairGenerator
import graft.score.{RelationScorer, WindowEncoder}
import graft.triggers.TriggerDetector
import org.apache.spark.broadcast.Broadcast
import org.apache.spark.sql.{DataFrame, Dataset, Encoder, SparkSession}
import org.apache.spark.sql.functions._

/** End-to-end KG-construction pipeline (SURVEY.md §3.1 re-expressed
  * Spark-first).
  *
  * Physical shape at cluster scale (SURVEY.md §4 "physical execution"):
  * the entire extract→encode→score path is ONE narrow pass per document —
  * doc text is tokenized once and every stage is a function of the in-hand
  * doc (the reference's per-doc loop, tf.py:293-434, without its process
  * boundary). Each output family is a lazy projection of that pass; the
  * only rows ever cached are the argmax positives (`run`'s `persistPass`),
  * the rows the triples and the triggers both read. The only shuffles are:
  *   1. canonicalization (iterative self-joins over the tiny entity-edge
  *      Dataset, not the corpus);
  *   2. the node-table aggregation;
  * plus a broadcast each for the dictionary automaton and the canonical
  * map. Nothing ever collects mention- or pair-level data off the executors.
  *
  * Triples are intentionally NOT deduplicated here: the reference writes
  * every positive prediction row (one per sentence context —
  * tf.py:400-407), and duplicates collapse only at evaluation time, where
  * Evalsorel keys on the canonical (doc, type, args) set. A doc with the
  * same pair positive in two sentences therefore emits two triple rows,
  * and metrics' positive_triples counts rows, not distinct triples.
  */
object KgPipeline {

  case class Output(triples: Dataset[Triple], triggers: Dataset[Trigger],
                    scoredAll: Dataset[ScoredPair], unfitted: DataFrame,
                    nodes: DataFrame, quarantine: Dataset[QuarantineRow])

  /** The one per-document extraction, in the reference's order
    * (tf.py:293-434): sentence split → dictionary NER + linking →
    * candidate pairs → tokenize → window fit → score. No other code knows
    * this order; every KG pass below is a projection of it. Its parts are
    * lazy, so a projection pays only for what it reads: mention rows never
    * generate pairs, and a doc without pairs is never tokenized. */
  final class DocExtraction(doc: Doc, ac: AhoCorasick, config: TaskConfig) {
    lazy val mentions: Seq[Mention] =
      MentionDetector.detect(doc, ac, SentenceSplitter.split(doc))
    lazy val pairs: Seq[CandidatePair] = PairGenerator.forDoc(mentions, config)
    lazy val tokens: IndexedSeq[Token] = Tokenizer.tokenize(SentenceSplitter.docText(doc))

    /** F5 window fit, one geometry per pair: the pairs that do not fit,
      * with their token distance (the FN side output). */
    lazy val unfitted: Seq[(CandidatePair, Int)] = pairs.flatMap { p =>
      val (_, _, _, _, dist, fits) = WindowEncoder.geometry(tokens, p, config.maxSeqLen)
      if (fits) None else Some((p, dist))
    }

    /** Encoded windows of every pair under `strategy` (MASK_EVERYTHING or
      * MARK), dispatched per doc with no change to the plan shape. */
    def encoded(strategy: WindowEncoder.RepresentationStrategy): Seq[EncodedPair] =
      if (pairs.isEmpty) Nil
      else WindowEncoder.encodeDocWith(strategy)(tokens, pairs, mentions, config.maxSeqLen)

    /** Scores of the pairs (the scorer skips unfitted ones itself). The
      * encoded window is DROPPED from negative rows before they cross the
      * Dataset row boundary: windows are only consumed by trigger
      * detection, which is gated on positives (F6). Without this, every
      * candidate pair would serialize a ~128-element string array into
      * Tungsten rows — at 10⁶ pairs per million docs that turns the narrow
      * pass from CPU-bound extraction into allocation/GC churn (measured
      * 2-3× wall-clock on the bench box). */
    def scored(scorer: RelationScorer): Iterator[ScoredPair] =
      if (pairs.isEmpty) Iterator.empty
      else scorer.scoreDoc(tokens, mentions, pairs, config.maxSeqLen).map { sp =>
        if (isPositive(sp)) sp else sp.copy(tokens = Nil, tokenBgns = Nil, tokenEnds = Nil)
      }
  }

  /** F7 argmax decode: pos wins over neg. */
  def isPositive(sp: ScoredPair): Boolean = sp.score_pos > sp.score_neg

  /** A narrow per-doc pass: `project` of each doc's extraction. */
  private def perDoc[T: Encoder](docs: Dataset[Doc], dict: Broadcast[AhoCorasick],
                                 config: TaskConfig)
                                (project: DocExtraction => IterableOnce[T]): Dataset[T] =
    docs.flatMap(doc => project(new DocExtraction(doc, dict.value, config)))

  /** Docs → encoded candidate pairs under `strategy` (MASK_EVERYTHING
    * default — the shipped best model's; MARK for typed boundary markers).
    * Exposed so tests/queries can observe the intermediate. */
  def encodeCandidates(docs: Dataset[Doc], dict: Broadcast[AhoCorasick],
                       config: TaskConfig,
                       strategy: WindowEncoder.RepresentationStrategy =
                         WindowEncoder.MaskEverything)
                      (implicit spark: SparkSession): Dataset[EncodedPair] = {
    import spark.implicits._
    perDoc(docs, dict, config)(_.encoded(strategy))
  }

  /** The fused extract→encode→score pass: docs → scored pairs, windows
    * only on positives. */
  def scoreCandidates(docs: Dataset[Doc], dict: Broadcast[AhoCorasick],
                      scorer: RelationScorer, config: TaskConfig)
                     (implicit spark: SparkSession): Dataset[ScoredPair] = {
    import spark.implicits._
    perDoc(docs, dict, config)(_.scored(scorer))
  }

  /** Argmax-positive scored rows as canonical triples: both mention norms
    * mapped through `canonMap`, the unordered pair written subj ≤ obj. The
    * one triple builder — batch `run` and `StreamingIngest.triples` (a
    * stream-static join, supported in append mode) both use it. */
  def canonicalTriples(positives: Dataset[ScoredPair], canonMap: DataFrame)
                      (implicit spark: SparkSession): Dataset[Triple] = {
    import spark.implicits._
    ConnectedComponents.withCanonical(
      ConnectedComponents.withCanonical(positives.toDF(), "e1_norm", canonMap, "subj"),
      "e2_norm", canonMap, "obj")
      .select($"doc_id",
        least($"subj", $"obj").as("subj"),
        lit("Complex_formation").as("pred"),
        greatest($"subj", $"obj").as("obj"),
        $"e1", $"e2", $"score_neg", $"score_pos")
      .as[Triple]
  }

  /** Full prediction pipeline. `equivEdges` is the (small) global
    * cross-reference/alias edge set driving canonicalization. Every output
    * is a lazy narrow pass over the corpus; only the argmax positives are
    * ever cached.
    * @param persistPass cache the positive scored rows (windows included),
    *        which the triples and the triggers both read, so an all-outputs
    *        job (RunJob) scores the corpus once. The flag decides only that
    *        `persist`: the plan is the same either way. Leave it off for
    *        triples-only consumers, which read the positives once. */
  def run(docs: Dataset[Doc], dictEntries: Seq[DictEntry],
          equivEdges: Dataset[EquivEdge], scorer: RelationScorer,
          config: TaskConfig = TaskConfig.complexTome,
          persistPass: Boolean = false)
         (implicit spark: SparkSession): Output = {
    import spark.implicits._

    val (good, quarantine) = DocValidator.split(docs)
    val dict = MentionDetector.broadcastDict(spark, dictEntries)

    // Each output family is its own projection of the per-doc extraction:
    // the node pass never builds pairs, and consumers that never touch
    // unfitted/nodes never pay for them.
    val scored = scoreCandidates(good, dict, scorer, config)
    val unfitted = perDoc(good, dict, config)(_.unfitted.map { case (p, dist) =>
      (p.doc_id, p.e1, p.e2, p.e1_norm, p.e2_norm, p.sent_dist, dist)
    }).toDF("doc_id", "e1", "e2", "e1_norm", "e2_norm", "sent_dist", "tokenDistance")
    val mentionNorms = perDoc(good, dict, config)(_.mentions.map(m => (m.norm_id, m.text)))
      .toDF("norm_id", "surface")

    // canonical map from the global equivalence edges (J6); tiny vs corpus
    val canonMap = ConnectedComponents.canonicalizeAuto(equivEdges)

    // F7: only argmax-positive rows materialize as triples; all scored rows
    // remain available (the reference writes every row to TSV, positives
    // additionally to .ann — tf.py:405-407)
    // With persistPass the triples and the triggers share one scoring scan
    // through a cache of the positives alone (~2.5% of the scored pairs).
    val positives = {
      val p = scored.filter(isPositive _)
      if (persistPass) p.persist(org.apache.spark.storage.StorageLevel.MEMORY_AND_DISK) else p
    }
    val triples = canonicalTriples(positives, canonMap)

    val triggers = positives.flatMap(TriggerDetector.triggersFor _)

    // node table: canonical id + surfaces + mention counts (A2-style stats)
    val nodes = ConnectedComponents.withCanonical(mentionNorms, "norm_id", canonMap, "node_id")
      .groupBy($"node_id")
      .agg(lit("Protein").as("tag"),
        sort_array(collect_set($"surface")).as("surfaces"),
        count(lit(1)).as("n_mentions"))

    Output(triples, triggers, scored, unfitted, nodes, quarantine)
  }

  /** Run-level metrics table (north-rule "lineage + metrics"): one row per
    * pipeline stage with its row count. Complements the per-bucket lineage
    * rows GraphMaterializer writes next to the data. Materializing this
    * frame triggers one job per stage — a diagnostic, not a hot path. */
  def metrics(out: Output)(implicit spark: SparkSession): DataFrame = {
    import spark.implicits._
    Seq(
      ("scored_pairs", out.scoredAll.count()),
      ("positive_triples", out.triples.count()),
      ("triggers", out.triggers.count()),
      ("unfitted_pairs", out.unfitted.count()),
      ("nodes", out.nodes.count()),
      ("quarantined_docs", out.quarantine.count())
    ).toDF("stage", "n_rows")
  }
}
