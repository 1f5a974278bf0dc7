package graft

import graft.core._
import graft.nlp.MentionDetector
import graft.operators.{Dedup, Multimodal, SimSearch, TextAnalysis}
import graft.score.LexiconScorer
import org.apache.spark.sql.{Column, DataFrame, SparkSession}
import org.apache.spark.sql.expressions.Window
import org.apache.spark.sql.functions._
import org.apache.spark.sql.types.DecimalType

/** Stage configuration for the end-to-end curation pipeline
  * ([[Queries.curationPipelineOver]] / [[CurationJob]]). The defaults are
  * the published Gopher/MassiveText cuts where one exists; every knob is
  * threadable from CurationJob's command line (`k=v` args). The catalog
  * entry pins exactly these defaults and generates its DuckDB oracle from
  * the same instance, so the constants can never drift.
  *
  *  - `minSharedPct`: keep-list near-dup word-Jaccard threshold (‰ of 100).
  *  - `decontamShingleN`: benchmark-decontamination n-gram length.
  *  - `minWords`/`maxWords`, `minMeanWordLen`/`maxMeanWordLen`: the two
  *    Gopher gates a synthetic-vocabulary corpus can apply; set
  *    `fullGopher` to use ALL seven published rules instead (needs a
  *    natural-language corpus — the stop-word rule voids word soup).
  *  - `maxBigramDupFrac`: intra-doc repetition gate (Gopher's duplicate
  *    n-gram family) — None disables.
  *  - `lineDedupMinDocs`: cross-doc line-dedup REWRITE stage (C4/
  *    RefinedWeb boilerplate rule) — None disables (the default: it
  *    voids corpora whose docs are single lines, like the catalog's).
  *  - `shortBandWords`, `shortPermille`/`longPermille`: stratified
  *    sampling bands and rates.
  *  - `seqLen`: packing sequence length.
  *  - `redactPii`: PII-mask the survivors after the gates and before
  *    sampling/packing (masks must not perturb dedup hashes or quality
  *    stats, and no address may reach a training bin) — off by default.
  *  - `minClassifierLogit`: learned-quality gate on the hashed linear
  *    classifier's logit — None disables. */
case class CurationConfig(
  minSharedPct: Int = 80,
  decontamShingleN: Int = 8,
  minWords: Int = 50,
  maxWords: Int = 100000,
  minMeanWordLen: Double = 3.0,
  maxMeanWordLen: Double = 10.0,
  fullGopher: Boolean = false,
  maxBigramDupFrac: Option[Double] = Some(0.1),
  lineDedupMinDocs: Option[Long] = None,
  shortBandWords: Int = 70,
  shortPermille: Int = 500,
  longPermille: Int = 750,
  seqLen: Int = 2048,
  redactPii: Boolean = false,
  minClassifierLogit: Option[Long] = None)

/** Implementations behind SparkEntry.queries.
  *
  * Design rules for oracle-checked queries (the driver compares against
  * DuckDB by sorted-column value hashing):
  *  - integer / string outputs wherever possible;
  *  - money aggregates cast to DECIMAL before summing (order-independent,
  *    bit-exact in both engines); per-row IEEE doubles are fine (division
  *    is deterministic), cross-row double sums are not;
  *  - every aggregate/computed column aliased identically on both sides;
  *  - LIMIT queries carry a deterministic tie-break.
  */
object Queries {

  def table(s: SparkSession, dir: String, name: String): DataFrame =
    s.read.parquet(s"$dir/$name.parquet")

  // ---------------------------------------------------------------- TPC-H

  /** A1-style grouped aggregation with decimal-exact money sums. */
  def q1Agg(s: SparkSession, dir: String): DataFrame =
    table(s, dir, "lineitem")
      .groupBy(col("l_returnflag"), col("l_linestatus"))
      .agg(
        sum(col("l_quantity")).as("sum_qty"),
        sum((col("l_extendedprice") * (lit(1) - col("l_discount")))
          .cast(DecimalType(18, 6))).cast("double").as("sum_disc_price"),
        count(lit(1)).as("n_rows"))

  /** Broadcast dimension join (region→nation→supplier). */
  def q2BroadcastJoin(s: SparkSession, dir: String): DataFrame = {
    val supplier = table(s, dir, "supplier")
    val nation = table(s, dir, "nation")
    val region = table(s, dir, "region")
    supplier
      .join(broadcast(nation), col("s_nationkey") === col("n_nationkey"))
      .join(broadcast(region), col("n_regionkey") === col("r_regionkey"))
      .groupBy(col("r_name"), col("n_name"))
      .agg(count(lit(1)).as("n_suppliers"),
        sum(col("s_acctbal").cast(DecimalType(18, 2))).cast("double").as("sum_bal"))
  }

  /** Shuffle join + top-k with deterministic tie-break. */
  def q3JoinTopK(s: SparkSession, dir: String): DataFrame =
    table(s, dir, "orders")
      .join(table(s, dir, "customer"), col("o_custkey") === col("c_custkey"))
      .groupBy(col("c_custkey"), col("c_name"))
      .agg(sum(col("o_totalprice").cast(DecimalType(18, 2))).cast("double").as("total_spend"),
        count(lit(1)).as("n_orders"))
      .orderBy(col("total_spend").desc, col("c_custkey"))
      .limit(10)

  /** Left-semi join (EXISTS). */
  def q4SemiJoin(s: SparkSession, dir: String): DataFrame = {
    val open = table(s, dir, "orders").filter(col("o_orderstatus") === "O")
    table(s, dir, "customer")
      .join(open, col("c_custkey") === col("o_custkey"), "left_semi")
      .select(col("c_custkey"), col("c_name"))
  }

  /** Left-anti join (NOT EXISTS): customers with no big-ticket order. */
  def q5AntiJoin(s: SparkSession, dir: String): DataFrame =
    table(s, dir, "customer")
      .join(table(s, dir, "orders").filter(col("o_totalprice") > 300000),
        col("c_custkey") === col("o_custkey"), "left_anti")
      .select(col("c_custkey"), col("c_name"))

  /** Window function: each customer's top order (deterministic order). */
  def q6Window(s: SparkSession, dir: String): DataFrame = {
    val w = Window.partitionBy(col("o_custkey"))
      .orderBy(col("o_totalprice").desc, col("o_orderkey"))
    table(s, dir, "orders")
      .withColumn("rn", row_number().over(w))
      .filter(col("rn") === 1)
      .select(col("o_custkey"), col("o_orderkey"),
        col("o_totalprice").as("top_price"))
  }

  /** Set operation: parts never shipped in bulk (EXCEPT). */
  def q7SetOp(s: SparkSession, dir: String): DataFrame =
    table(s, dir, "part").select(col("p_partkey"))
      .except(table(s, dir, "lineitem").filter(col("l_quantity") > 45)
        .select(col("l_partkey").as("p_partkey")))

  /** Distinct aggregation. */
  def q8DistinctAgg(s: SparkSession, dir: String): DataFrame =
    table(s, dir, "customer")
      .groupBy(col("c_nationkey"))
      .agg(countDistinct(col("c_mktsegment")).as("n_segments"),
        count(lit(1)).as("n_customers"))

  /** Selective filter + narrow projection (predicate/column pushdown —
    * .explain shows PushedFilters + a 3-column ReadSchema). */
  def q9FilterPushdown(s: SparkSession, dir: String): DataFrame =
    table(s, dir, "lineitem")
      .filter(col("l_shipdate") >= lit("1996-01-01").cast("timestamp") &&
        col("l_shipdate") < lit("1997-01-01").cast("timestamp") &&
        col("l_quantity") < 5 && col("l_discount") > 0.05)
      .select(col("l_orderkey"), col("l_linenumber"), col("l_quantity"))

  // ---------------------------------------------------------------- events

  /** Tumbling 5-minute windowed aggregation (batch). */
  def q10EventsWindow(s: SparkSession, dir: String): DataFrame =
    table(s, dir, "events")
      .groupBy(((unix_timestamp(col("ts")).cast("long") / 300).cast("long") * 300)
          .as("bucket_start"),
        col("event_type"))
      .agg(count(lit(1)).as("n_events"),
        sum(col("value").cast(DecimalType(18, 2))).cast("double").as("sum_value"))

  /** Gap-based sessionization (30-min inactivity) via lag window. */
  def q11Sessionize(s: SparkSession, dir: String): DataFrame = {
    val w = Window.partitionBy(col("user_id")).orderBy(col("ts"), col("event_id"))
    table(s, dir, "events")
      .withColumn("prev_ts", lag(col("ts"), 1).over(w))
      .withColumn("new_session",
        when(col("prev_ts").isNull ||
          unix_timestamp(col("ts")) - unix_timestamp(col("prev_ts")) > 1800, 1)
          .otherwise(0))
      .groupBy(col("user_id"))
      .agg(count(lit(1)).as("n_events"), sum(col("new_session")).as("n_sessions"))
  }

  /** Conditional aggregation (pivot-style counts per event type). */
  def q12ConditionalAgg(s: SparkSession, dir: String): DataFrame =
    table(s, dir, "events")
      .groupBy(col("user_id"))
      .agg(
        sum(when(col("event_type") === "click", 1).otherwise(0)).as("n_click"),
        sum(when(col("event_type") === "view", 1).otherwise(0)).as("n_view"),
        sum(when(col("event_type") === "purchase", 1).otherwise(0)).as("n_purchase"),
        sum(when(col("event_type") === "error", 1).otherwise(0)).as("n_error"))

  /** Native session windows (Spark's session_window generator — the
    * built-in gaps-and-islands operator, vs q11's hand-rolled lag form):
    * one session per user per ≥30-min silence, boundaries at millisecond
    * precision, end = last event + gap. */
  def q14SessionWindow(s: SparkSession, dir: String): DataFrame =
    table(s, dir, "events")
      .withColumn("ts", col("ts").cast("timestamp"))
      .groupBy(session_window(col("ts"), "30 minutes").as("sw"), col("user_id"))
      .agg(count(lit(1)).as("n_events"))
      .select(col("user_id"),
        unix_timestamp(col("sw.start")).as("session_start"),
        unix_timestamp(col("sw.end")).as("session_end"),
        col("n_events"))

  /** Backward AS-OF join over the events table
    * ([[operators.Temporal.asofJoin]]): every event annotated with the
    * most recent PRIOR error by the same user (ties at the exact instant
    * match; no prior error → nulls). The right side pre-aggregates to one
    * row per (user, ts) so the tie rule is explicit on both engines.
    * Epochs exported as BIGINT micros — timestamp values never cross the
    * engine boundary as strings. */
  def eventsAsof(s: SparkSession, dir: String): DataFrame = {
    val ev = table(s, dir, "events")
    val markers = ev.filter(col("event_type") === "error")
      .groupBy(col("user_id"), col("ts")).agg(max(col("value")).as("err_value"))
    operators.Temporal.asofJoin(ev, markers, key = "user_id", time = "ts",
        valueCols = Seq("err_value"))
      .select(col("event_id"), col("user_id"),
        unix_micros(col("ts").cast("timestamp")).as("t_us"),
        unix_micros(col("ts_asof").cast("timestamp")).as("err_t_us"),
        col("err_value_asof").as("err_value"))
  }

  /** Range (interval-containment) join ([[operators.Temporal.rangeJoin]]):
    * purchases landing inside any same-user 10-minute post-error window,
    * rolled up per purchase (window count + earliest triggering error).
    * Bucket width = the window length, so each interval explodes into at
    * most 2 buckets. */
  def eventsRangeJoin(s: SparkSession, dir: String): DataFrame = {
    val ev = table(s, dir, "events")
    val iv = ev.filter(col("event_type") === "error")
      .select(col("user_id"), col("event_id").as("err_id"), col("ts").as("s"),
        (col("ts") + expr("INTERVAL 10 MINUTES")).as("e"))
    val p = ev.filter(col("event_type") === "purchase")
      .select(col("event_id"), col("user_id"), col("ts"))
    operators.Temporal.rangeJoin(p, iv, "ts", "s", "e",
        keys = Seq("user_id"), bucketSec = 600L)
      .groupBy(col("event_id"))
      .agg(count(lit(1)).as("n_windows"), min(col("err_id")).as("first_err"))
  }

  /** Structured Streaming: the same tumbling window computed through
    * readStream → watermark → windowed agg → memory sink, drained with
    * processAllAvailable (batch parquet drives the stream synchronously).
    * The oracle is the batch-equivalent SQL — stream/batch parity check. */
  def q13Streaming(s: SparkSession, dir: String): DataFrame = {
    val schema = table(s, dir, "events").schema
    // glob form: the file-stream source requires a directory-valued
    // basePath, and a glob keeps it at the parent directory
    val stream = s.readStream.schema(schema)
      .parquet(s"$dir/events.parq*")
      // parquet NTZ timestamps → session-TZ timestamps (UTC session);
      // watermarks require TIMESTAMP, not TIMESTAMP_NTZ
      .withColumn("ts", col("ts").cast("timestamp"))
      .withWatermark("ts", "10 minutes")
      .groupBy(window(col("ts"), "5 minutes"), col("event_type"))
      .agg(count(lit(1)).as("n_events"))
      .select(unix_timestamp(col("window.start")).as("bucket_start"),
        col("event_type"), col("n_events"))
    s.catalog.dropTempView("graft_stream_q13") // false when absent
    val q = stream.writeStream.outputMode("complete")
      .format("memory").queryName("graft_stream_q13").start()
    try q.processAllAvailable() finally q.stop()
    s.table("graft_stream_q13")
  }

  // ------------------------------------------------------- dedup operators

  def dedupExact(s: SparkSession, dir: String): DataFrame =
    Dedup.exact(table(s, dir, "documents"))

  /** Exact Jaccard pairs via the prefix-filtered self-join (the published
    * exact algorithm — SSJoin/PPJoin); the naive all-pairs twin
    * `ngramJaccardPairs` remains the spec-level ground truth
    * (property-tested equal), and the DuckDB oracle still computes the
    * naive form independently — exactness verified both ways. */
  def dedupNgramJaccard(s: SparkSession, dir: String): DataFrame =
    Dedup.ngramJaccardPairsPrefix(table(s, dir, "documents"), minSharedPct = 80)

  /** The near-dup operators' one hash family: portable LCG hashes,
    * oracle-verifiable bit-exactly. The vocabKey shares the
    * token-rank vocabulary across queries within the session: minhash_lsh
    * and lsh_verified read one staged shingle-3 vocab, simhash and
    * text_fingerprint one staged word vocab — 2 vocab builds per corpus
    * instead of one per query call. */
  def dedupMinhashLsh(s: SparkSession, dir: String): DataFrame =
    Dedup.minhashLshCandidatesPortable(table(s, dir, "documents"),
      vocabKey = Some(s"$dir#documents#sh3"))

  /** The scale composition: LSH candidates -> exact Jaccard verify. */
  def dedupLshVerified(s: SparkSession, dir: String): DataFrame =
    Dedup.lshVerifiedDupsPortable(table(s, dir, "documents"), minSharedPct = 80,
      vocabKey = Some(s"$dir#documents#sh3"))

  def dedupSimhash(s: SparkSession, dir: String): DataFrame =
    Dedup.simhashCandidatesPortable(table(s, dir, "documents"), maxHamming = 3,
      vocabKey = Some(s"$dir#documents#words"))

  /** The corpus dedup deliverable: per-doc keep_id over the transitive
    * closure of exact-dup + LSH-verified near-dup edges (shares the staged
    * shingle-3 vocab with the other LSH queries). */
  def dedupKeepList(s: SparkSession, dir: String): DataFrame =
    Dedup.keepList(table(s, dir, "documents"), minSharedPct = 80,
      vocabKey = Some(s"$dir#documents#sh3"))

  /** Keep-list with the SEMANTIC edge source unioned in: embedding-space
    * cosine near-dup pairs (vec_id ≡ doc_id on the testdata tables) join
    * the exact + lexical-LSH edges before the transitive closure — the
    * full three-edge-source dedup deliverable. The cosine threshold is the
    * same integer cross-multiply as dedup_embedding_cosine, so the oracle
    * stays bit-exact end to end. */
  def dedupKeepListSemantic(s: SparkSession, dir: String): DataFrame =
    Dedup.keepList(table(s, dir, "documents"), minSharedPct = 80,
      vocabKey = Some(s"$dir#documents#sh3"),
      semanticPairs = Some(SimSearch.quantizedCosinePairs(
        table(s, dir, "embeddings"), tauNum = 9L, tauDen = 400L)))

  /** INCREMENTAL keep-list maintenance over a 75/25 old/new split of the
    * corpus: yesterday's keep-list (over doc_id % 4 != 3) is closed
    * against today's delta (% 4 == 3) via Dedup.keepListDelta — cluster
    * stars + delta-only candidate joins, NO old-vs-old re-pairing. The
    * oracle is THE SAME full-recompute SQL as dedup_keep_list: a hash
    * match proves the incremental closure equals a from-scratch run,
    * verified by an independent engine. */
  def dedupKeepListDelta(s: SparkSession, dir: String): DataFrame = {
    val docs = table(s, dir, "documents")
    val key = Some(s"$dir#documents#sh3")
    // pin the shared vocabulary to the FULL corpus before any subset call
    // (the cache contract is key ↔ corpus; a cold cache primed from the
    // old subset would poison every other portable query — and the
    // delta == full theorem needs old and delta edges under ONE vocab)
    Dedup.tokenVocabCached(Dedup.shingleRows(docs, 3), key)
    val newIds = docs.filter(col("doc_id") % 4 === 3).select("doc_id")
    val oldDocs = docs.filter(col("doc_id") % 4 =!= 3)
    val oldKeep = Dedup.keepList(oldDocs, minSharedPct = 80, vocabKey = key)
    // the "old run" persists its signatures next to the keep-list (the
    // SigStore build, corpus- AND vocab-fingerprint-validated on reopen);
    // the delta READS them back instead of re-shingling the old corpus —
    // the production delta shape end to end
    Dedup.keepListDelta(oldKeep, docs, newIds, minSharedPct = 80,
      vocabKey = key, oldSigs = Some(deltaSigStore(s, dir)))
  }

  /** The delta entry's signature store: old slice (doc_id % 4 ≠ 3) signed
    * under the staged FULL-corpus vocabulary, persisted in tmp. A corpus
    * BUILD artifact (compute once, read by every delta) — staged by
    * stageCorpusArtifacts next to the vocabularies and the ANN index so
    * the timed query measures the delta, not the old run's build. */
  private[graft] def deltaSigStore(s: SparkSession, dir: String): DataFrame = {
    val docs = table(s, dir, "documents")
    val vocab = Dedup.tokenVocabCached(Dedup.shingleRows(docs, 3),
      Some(s"$dir#documents#sh3"))
    val oldDocs = docs.filter(col("doc_id") % 4 =!= 3)
    val path = java.nio.file.Paths.get(sys.props("java.io.tmpdir"),
      sources.SigStore.dirName(s"$dir#documents#old", 3, 16)).toString
    sources.SigStore.forCorpus(oldDocs, path, vocab)
  }

  /** Benchmark decontamination over the documents table: the eval set is
    * the deterministic doc_id % 5 == 0 slice (standing in for a held-out
    * benchmark suite), the corpus is the rest; any shared word-8-gram
    * (whole-doc containment for sub-8-word docs) flags the corpus doc.
    * Every eval-derived join side rides a broadcast, so no shuffle join
    * ever touches corpus rows (OperatorsSpec asserts the plan has no
    * SortMergeJoin/ShuffledHashJoin). */
  def textDecontam(s: SparkSession, dir: String): DataFrame = {
    // spreadSmall on the CORPUS side only: its 8-gram window explode is
    // the heavy map-side pass and rides the single-split staged scan as
    // one task; the eval side stays broadcast-sized by contract
    val docs = table(s, dir, "documents")
    Dedup.decontaminate(
      operators.Dedup.spreadSmall(docs.filter(col("doc_id") % 5 =!= 0)),
      docs.filter(col("doc_id") % 5 === 0),
      shingleN = 8)
  }

  /** The SAME decontamination contract as [[textDecontam]], computed
    * through [[Dedup.decontaminateBloom]] — eval grams folded into one
    * Bloom filter, corpus grams prefiltered before the (non-broadcast)
    * exact join. Shares text_decontam's oracle SQL verbatim: the two
    * operators hash-matching the same DuckDB result is the proof that
    * the Bloom prefilter is lossless. */
  def textDecontamBloom(s: SparkSession, dir: String): DataFrame = {
    // corpus-side spread, the textDecontam argument (the bloom prefilter
    // runs inside the same heavy gram-explode pass)
    val docs = table(s, dir, "documents")
    Dedup.decontaminateBloom(
      operators.Dedup.spreadSmall(docs.filter(col("doc_id") % 5 =!= 0)),
      docs.filter(col("doc_id") % 5 === 0),
      shingleN = 8)
  }

  /** Exact-k stratified sample over the language strata: the 50
    * smallest-hash docs per lang, deterministic ties — the window runs
    * over O(k) pre-thinned survivors per stratum, never the full corpus
    * (see [[Sampling.stratifiedExactK]]). Oracle = the plain full-table
    * ROW_NUMBER form, so the prefiltered plan is proven exact. */
  def textSampleTopK(s: SparkSession, dir: String): DataFrame =
    operators.Sampling.stratifiedExactK(table(s, dir, "documents"),
      col("doc_id"), col("lang"), k = 50)

  /** KG EDGE ROLLUP — the merge step that turns per-document extractions
    * into one knowledge-graph edge table: group triples by
    * (subj, pred, obj), count supporting documents and keep the first
    * (minimum) doc id as provenance. One map-side-combinable aggregation
    * over the triple key; at corpus scale this is where a billion
    * extraction rows become the million-edge graph that ships. */
  def kgEdgeRollup(s: SparkSession, dir: String): DataFrame =
    kgRollupOf(kgTriples(s, dir))

  /** The ONE rollup shape every KG consumer shares — (subj, pred, obj) →
    * (n_docs, first_doc) — factored so a future change to the rollup key
    * or tiebreak lands everywhere at once (edge rollup, delta merge,
    * shipped-edge threshold, snapshot diff). */
  def kgRollupOf(t: DataFrame): DataFrame =
    t.groupBy(col("subj"), col("pred"), col("obj"))
      .agg(count(lit(1)).as("n_docs"), min(col("doc_id")).as("first_doc"))

  /** Per-entity structural rollup of the KG edge table: undirected degree
    * + total supporting-document count ([[graft.graph.GraphOps.nodeDegrees]]). */
  def kgNodeDegrees(s: SparkSession, dir: String): DataFrame =
    graph.GraphOps.nodeDegrees(kgEdgeRollup(s, dir))

  /** Integer fixed-point PageRank over the co-occurrence KG (5 rounds,
    * damping 0.85): entity centrality in parts-per-trillion. The oracle
    * unrolls the SAME integer recurrence as 5 DuckDB CTE steps, so a hash
    * match proves every division and sum — see
    * [[graft.graph.GraphOps.pageRank]]. */
  def kgPageRank(s: SparkSession, dir: String): DataFrame =
    graph.GraphOps.pageRank(
      kgTriples(s, dir).select(col("subj").as("src"), col("obj").as("dst")),
      iterations = 5)

  /** Connected components over the co-occurrence KG: every entity in the
    * edge table labeled with its component's lexicographically-smallest
    * member — the canonical-id rule the whole engine uses (keep-list
    * clusters, equiv resolution). Runs the DISTRIBUTED min-label +
    * pointer-jumping loop ([[graft.canon.ConnectedComponents.canonicalize]])
    * unconditionally — unlike the keep-list entries, which take the
    * adaptive driver/distributed split — so the driver hash proves the
    * O(log diameter) propagation itself against the oracle's recursive
    * min-label CTE. */
  def kgComponents(s: SparkSession, dir: String): DataFrame = {
    import s.implicits._
    val e = kgTriples(s, dir)
      .select(col("subj").as("src"), col("obj").as("dst"))
      .distinct().as[EquivEdge]
    canon.ConnectedComponents.canonicalize(e)(s)
      .select(col("node_id").as("node"), col("canonical_id").as("component"))
  }

  /** Per-entity triangle counts over the co-occurrence KG — the local
    * clustering structure ([[graft.graph.GraphOps.triangleCounts]]:
    * degree-ordered compact-forward enumeration; the oracle counts the
    * naive a<b<c way, so the hash match proves the optimized plan). */
  def kgTriangles(s: SparkSession, dir: String): DataFrame =
    graph.GraphOps.triangleCounts(
      kgTriples(s, dir).select(col("subj").as("src"), col("obj").as("dst")))

  /** Shared-neighbor Jaccard between entity pairs — duplicate-entity
    * candidates at J ≥ 0.2, all-integer arithmetic
    * ([[graft.graph.GraphOps.neighborJaccard]]). */
  def kgNodeSim(s: SparkSession, dir: String): DataFrame =
    graph.GraphOps.neighborJaccard(
      kgTriples(s, dir).select(col("subj").as("src"), col("obj").as("dst")),
      minPermille = 200)

  /** Multi-source BFS hop distances over the co-occurrence KG, seeded at
    * the lexicographically-smallest entity (a deterministic stand-in for
    * a curated seed list), 4 hops. The engine runs the frontier loop, the
    * oracle the unrolled whole-set recurrence — the hash match proves the
    * frontier optimization lossless ([[graft.graph.GraphOps.khopDistances]]). */
  def kgKhop(s: SparkSession, dir: String): DataFrame =
    seeded(kgTriples(s, dir).select(col("subj").as("src"), col("obj").as("dst")),
      e => graph.GraphOps.symmetrize(e).agg(min(col("src")).as("node")))(
      graph.GraphOps.khopDistances(_, _, maxHops = 4))

  /** Community labels over the co-occurrence KG: 3 rounds of synchronous
    * label propagation, most-frequent-neighbor label with min-label ties
    * ([[graft.graph.GraphOps.labelPropagate]] — window-free argmax via
    * min(struct(-count, label))). */
  def kgCommunities(s: SparkSession, dir: String): DataFrame =
    graph.GraphOps.labelPropagate(
      kgTriples(s, dir).select(col("subj").as("src"), col("obj").as("dst")),
      iterations = 3)

  /** ENTITY RESOLUTION over the KG — the composition the node-similarity
    * operator exists to feed: neighbor-Jaccard pairs at J ≥ 0.5 become
    * merge edges, the transitive closure assigns every entity its merge
    * group's lexicographically-smallest member, and entities with no
    * qualifying edge keep themselves (the keep-list pattern applied to
    * GRAPH nodes instead of documents — SURVEY J6's equiv resolution
    * generalized to similarity-derived equivalences). */
  def kgEntityMerge(s: SparkSession, dir: String): DataFrame = {
    import s.implicits._
    // checkpoint: the CC closure's internal actions and the final
    // node-labeling join each re-derive the extraction otherwise
    val e = kgTriples(s, dir)
      .select(col("subj").as("src"), col("obj").as("dst"))
      .localCheckpoint()
    val simEdges = graph.GraphOps.neighborJaccard(e, minPermille = 500)
      .select(col("node_a").as("src"), col("node_b").as("dst"))
      .as[EquivEdge]
    val canonMap = canon.ConnectedComponents.canonicalize(simEdges)(s)
    val nodes = graph.GraphOps.symmetrize(e)
      .select(col("src").as("node")).distinct()
    nodes.join(canonMap, nodes("node") === canonMap("node_id"), "left")
      .select(col("node"),
        coalesce(col("canonical_id"), col("node")).as("merge_id"))
  }

  /** ER CANDIDATE GENERATION over entity surface forms — the discovery
    * step upstream of [[kgEntityMerge]]'s closure: token-blocked
    * Levenshtein candidate pairs over the part-name catalog (the
    * testdata's only table with genuine name VARIANTS — "cold ring" /
    * "old ring" at edit distance 1), with the blocking-key frequency cap
    * that keeps a stopword-ish token from pairing everything
    * ([[graft.canon.ErCandidates.nameCandidates]]). maxBlockNames = 100
    * keeps every token on this catalog (16 tokens × 8 names); the cap's
    * bite is spec-tested on a hand-built hot-token fixture. */
  def kgErCandidates(s: SparkSession, dir: String): DataFrame =
    canon.ErCandidates.nameCandidates(table(s, dir, "part"), "p_name",
      maxEdit = 2, maxBlockNames = 100L)

  /** Edge ASSOCIATION strength over the KG rollup: observed co-occurrence
    * vs the independence expectation, as integer lift in ppm —
    * lift = P(a,b) / (P(a)·P(b)) = n_ab·N / (n_a·n_b), scaled ×10⁶ and
    * integer-divided (the log-free PMI core: same ranking, exact
    * arithmetic, so the DuckDB oracle matches bit-for-bit). n_a/n_b are
    * per-entity document supports off [[kgMentions]], N the corpus doc
    * count (one-row crossJoin — broadcast by construction). This is the
    * edge-weighting stage of KG construction: raw co-occurrence counts
    * overweight ubiquitous entities; lift is the standard correction. */
  def kgLift(s: SparkSession, dir: String): DataFrame = {
    val er = kgEdgeRollup(s, dir)
      .select(col("subj"), col("pred"), col("obj"), col("n_docs").as("n_ab"))
    val nodeDocs = kgMentions(s, dir)
      .groupBy(col("surface")).agg(count(lit(1)).as("nd"))
    val total = table(s, dir, "documents").agg(count(lit(1)).as("n_total"))
    er.join(nodeDocs.select(col("surface").as("subj"), col("nd").as("n_a")), "subj")
      .join(nodeDocs.select(col("surface").as("obj"), col("nd").as("n_b")), "obj")
      .crossJoin(total)
      .select(col("subj"), col("pred"), col("obj"), col("n_ab"),
        col("n_a"), col("n_b"),
        expr("(n_ab * n_total * 1000000) div (n_a * n_b)").as("lift_ppm"))
  }

  /** The USER CONTACTS off the events stream, the one join every user-graph
    * edge table projects: distinct (user, minute) pairs self-joined on the
    * minute bucket (the bin-join pattern — the quadratic step is bounded per
    * bucket), `unix_micros div 60e6` mirrored by DuckDB's `epoch_us //
    * 60000000`. Its columns stay qualified and unaliased ([[contactSrc]] <
    * [[contactDst]], [[contactBkt]]): an alias here would add a projection
    * under the weighted builder's aggregation and change its plan. */
  private def userContacts(s: SparkSession, dir: String,
                           spread: Boolean = false): DataFrame = {
    // The bucket self-join's cost is its per-bucket quadratic fan-OUT, not
    // its input bytes: AQE's byte-based coalescing shrinks the tiny
    // (user, minute) exchange to 1-2 partitions and the 50×-amplifying
    // join then runs single-task (measured 4-5s of the wall). `spread`
    // pins the join input to an explicit fixed-count partitioning (exempt
    // from AQE coalescing; defaultParallelism scales with the cluster) —
    // opt-IN because only consumers that keep degree-amplified joins
    // downstream (betweenness/harmonic/truss/nf/linkpred/graph_stats)
    // win from the 32-way layout; the light fixed-point loops (ppr, WL,
    // sssp, walks…) are latency-bound on ~|V|-row iteration state and
    // measured 1-3s SLOWER when every tiny stage inherits it.
    val b0 = table(s, dir, "events")
      .select(col("user_id"), // NTZ→TIMESTAMP cast under the UTC session
        expr("unix_micros(CAST(ts AS TIMESTAMP)) div 60000000").as("bkt"))
      .distinct()
    val b = if (spread)
      b0.repartition(s.sparkContext.defaultParallelism, col("bkt"))
    else b0
    b.as("x").join(b.as("y"), col("x.bkt") === col("y.bkt") &&
      contactSrc < contactDst)
  }

  private val (contactSrc, contactDst, contactBkt) =
    (col("x.user_id"), col("y.user_id"), col("x.bkt"))

  /** The USER CO-OCCURRENCE graph: users active in the same minute are
    * linked — the distinct (src, dst) pairs of [[userContacts]]. This is
    * the larger, sparser graph (150 nodes / ~1k edges at sf0.01 vs the
    * 5-entity KG) the peel/link-predict/PPR entries run on, the
    * behavioral-graph side of a curation stack (bot rings and coordinated
    * accounts surface as dense cores and high link-prediction scores). */
  def userGraphEdges(s: SparkSession, dir: String,
                     spread: Boolean = false): DataFrame =
    userContacts(s, dir, spread)
      .select(contactSrc.as("src"), contactDst.as("dst")).distinct()

  /** The user graph with EDGE WEIGHTS: co-occurrence strength n_min
    * (distinct shared minutes) inverted into an integer distance
    * w = 10⁶ div n_min — frequent co-occurrence ⇒ short edge — emitted in
    * BOTH directions (the symmetric weighted edge list
    * [[graft.graph.GraphOps.ssspBounded]] consumes). */
  def userWeightedEdges(s: SparkSession, dir: String): DataFrame = {
    val wp = userContacts(s, dir)
      .groupBy(contactSrc.as("src"), contactDst.as("dst"))
      .agg(count(lit(1)).as("n_min"))
      .select(col("src"), col("dst"), expr("1000000 div n_min").as("w"))
    wp.unionByName(
      wp.select(col("dst").as("src"), col("src").as("dst"), col("w")))
  }

  /** Weighted shortest distances from the smallest user, 4 Bellman-Ford
    * rounds over the inverse-co-occurrence weights — "closeness" in the
    * behavioral graph ([[graft.graph.GraphOps.ssspBounded]]: the engine
    * relaxes only the changed frontier; the oracle unrolls the naive
    * whole-set recurrence — the khop theorem with weights). */
  def userSssp(s: SparkSession, dir: String): DataFrame =
    seeded(userWeightedEdges(s, dir), smallestUser)(
      graph.GraphOps.ssspBounded(_, _, rounds = 4))

  /** The user graph as TEMPORAL edges: one (src, dst, t) row per shared
    * minute, both directions — the time-respecting contact list
    * [[userTemporalReach]] propagates over. */
  def userTemporalEdges(s: SparkSession, dir: String): DataFrame = {
    val p = userContacts(s, dir)
      .select(contactSrc.as("src"), contactDst.as("dst"), contactBkt.as("t"))
    p.unionByName(
      p.select(col("dst").as("src"), col("src").as("dst"), col("t")))
  }

  /** Earliest-arrival temporal reachability from the smallest user over
    * the minute-stamped contact graph, 4 time-respecting hops
    * ([[graft.graph.GraphOps.earliestArrival]] — the influence/contact
    * propagation primitive: a hop through a minute EARLIER than the
    * current arrival does not count; the oracle unrolls the naive
    * whole-set recurrence, proving the changed-frontier pruning exact). */
  def userTemporalReach(s: SparkSession, dir: String): DataFrame =
    seeded(userTemporalEdges(s, dir), smallestUser)(
      graph.GraphOps.earliestArrival(_, _, rounds = 4))

  /** Sampled-source harmonic centrality over the user graph: seeds =
    * users with id ≡ 0 (mod 7) (the deterministic sample an
    * Eppstein–Wang estimator BFSes from), 3 bounded hops, integer
    * permille harmonic sums
    * ([[graft.graph.GraphOps.harmonicCentrality]]). */
  def userHarmonic(s: SparkSession, dir: String): DataFrame =
    seeded(userGraphEdges(s, dir, spread = true), everyMthUser(7))(
      graph.GraphOps.harmonicCentrality(_, _, maxHops = 3))

  /** 3-hop neighborhood function over the user graph with k = 8 bottom-k
    * sketches ([[graft.graph.GraphOps.neighborhoodFunction]] — exact
    * under capacity, the KMV estimator over it; the oracle rebuilds the
    * sketches hash-for-hash). */
  def userNf(s: SparkSession, dir: String): DataFrame =
    graph.GraphOps.neighborhoodFunction(
      userGraphEdges(s, dir, spread = true), rounds = 3, k = 8)

  /** Sampled-source Brandes betweenness over the user graph: an
    * id ≡ 0 (mod 13) seed sample (betweenness pays a backward phase per
    * seed on top of the BFS, so it samples thinner than harmonic —
    * Brandes-Pich shows small pivot samples suffice) with the 3-hop
    * bound of [[userHarmonic]],
    * exact integer path counts forward, fixed-point dependency
    * accumulation backward ([[graft.graph.GraphOps.betweenness]]). */
  def userBetweenness(s: SparkSession, dir: String): DataFrame =
    seeded(userGraphEdges(s, dir, spread = true), everyMthUser(13))(
      graph.GraphOps.betweenness(_, _, maxHops = 3))

  /** One-row structural summary of the user graph — counts, max degree,
    * wedges, distinct triangles, global clustering coefficient in exact
    * ppm ([[graft.graph.GraphOps.graphStats]]). */
  def userGraphStats(s: SparkSession, dir: String): DataFrame =
    graph.GraphOps.graphStats(userGraphEdges(s, dir))

  /** 6 peeling rounds toward the 10-core of the user graph
    * ([[graft.graph.GraphOps.kCorePeel]] — the oracle unrolls the same 6
    * rounds; the engine's stability short-circuit is provably identical). */
  def userKcore(s: SparkSession, dir: String): DataFrame =
    graph.GraphOps.kCorePeel(userGraphEdges(s, dir), k = 10, rounds = 6)

  /** Luby maximal independent set over the user graph, 6 rounds of
    * portable-LCG priority draws ([[graft.graph.GraphOps.lubyMis]] —
    * the oracle replays the identical draws, so the driver hash match
    * pins every round's winners, losers and isolated joins). */
  def userMis(s: SparkSession, dir: String): DataFrame =
    graph.GraphOps.lubyMis(userGraphEdges(s, dir), rounds = 6)

  /** 4 peeling rounds toward the 4-truss of the user graph — surviving
    * edges close ≥ 2 triangles within the surviving set
    * ([[graft.graph.GraphOps.kTrussPeel]]; the oracle unrolls the same
    * rounds with naive per-edge common-neighbor counts, so the hash
    * match proves the degree-ordered enumeration exact). */
  def userTruss(s: SparkSession, dir: String): DataFrame =
    graph.GraphOps.kTrussPeel(userGraphEdges(s, dir, spread = true),
      k = 4, rounds = 4)

  /** Two rounds of Weisfeiler-Leman color refinement over the user
    * graph — each user's structural-equivalence class after looking two
    * hops out ([[graft.graph.GraphOps.wlColors]]; class ids are min
    * member ids, window-free). */
  def userWlColors(s: SparkSession, dir: String): DataFrame =
    graph.GraphOps.wlColors(userGraphEdges(s, dir), rounds = 2)
      .select(col("node").as("user_id"), col("color"))

  /** Newman modularity panel of the 3-round label-propagation partition
    * of the user graph — per community: size, internal edges, degree
    * mass, and the exact-integer ppm contribution to Q
    * ([[graft.graph.GraphOps.modularity]] over
    * [[graft.graph.GraphOps.labelPropagate]] — the measurement that says
    * whether the communities the engine ships are better than a random
    * rewiring). */
  def userModularity(s: SparkSession, dir: String): DataFrame = {
    val e0 = userGraphEdges(s, dir)
      .localCheckpoint() // labels, degrees, m and m_in all read it
    graph.GraphOps.modularity(e0,
      graph.GraphOps.labelPropagate(e0, iterations = 3))
  }

  /** Resource-allocation link prediction over the user graph: every
    * non-adjacent pair sharing ≥ 2 neighbors, with the integer RA score
    * ([[graft.graph.GraphOps.linkPredict]]). */
  def userLinkPredict(s: SparkSession, dir: String): DataFrame =
    graph.GraphOps.linkPredict(userGraphEdges(s, dir, spread = true),
      minCommon = 2)

  /** Personalized PageRank seeded at the smallest user id, 5 rounds —
    * "users related to THIS one" by graph proximity
    * ([[graft.graph.GraphOps.personalizedPageRank]]). */
  def userPpr(s: SparkSession, dir: String): DataFrame =
    seeded(userGraphEdges(s, dir), smallestUser)(
      graph.GraphOps.personalizedPageRank(_, _, iterations = 5))

  /** Runs a seeded graph operator over `edges` checkpointed once: the seed
    * pick and the operator's persisted adjacency both read the edges, and
    * would otherwise each evaluate the extraction or the bucket self-join
    * (e is ~|E| rows, the build is not). */
  private def seeded(edges: DataFrame, seeds: DataFrame => DataFrame)
                    (op: (DataFrame, DataFrame) => DataFrame): DataFrame = {
    val e = edges.localCheckpoint()
    op(e, seeds(e))
  }

  /** The smallest user id as the one seed: every user edge table holds
    * each edge with its smaller endpoint in `src` (src < dst, or both
    * directions), so min(src) is the smallest user of the graph. */
  private def smallestUser(e: DataFrame): DataFrame =
    e.agg(min(col("src")).as("node"))

  /** The deterministic seed sample of the sampled-source centralities:
    * every user of the graph with id ≡ 0 (mod m). */
  private def everyMthUser(m: Int)(e: DataFrame): DataFrame =
    graph.GraphOps.symmetrize(e).select(col("src").as("node")).distinct()
      .filter(col("node") % m === 0)

  /** Walk-corpus parameters shared by the engine and the generated
    * oracle: 2 walks of 4 steps per node, LCG salt 7, skip-gram window 2. */
  val WalkLength = 4
  val WalksPerNode = 2
  val WalkSeed = 7L
  val WalkWindow = 2

  /** Deterministic DeepWalk corpus over the user co-occurrence graph —
    * the embedding-training input a behavioral-graph consumer generates
    * ([[graft.graph.GraphOps.randomWalks]]: portable-LCG argmin steps, so
    * DuckDB re-derives every step of every walk). */
  def userWalks(s: SparkSession, dir: String): DataFrame =
    graph.GraphOps.randomWalks(userGraphEdges(s, dir),
      length = WalkLength, walksPerNode = WalksPerNode, seed = WalkSeed)

  /** Skip-gram (center, context) co-occurrence counts off [[userWalks]] —
    * the grouped word2vec training table
    * ([[graft.graph.GraphOps.walkPairs]], symmetric window). */
  def userWalkPairs(s: SparkSession, dir: String): DataFrame =
    graph.GraphOps.walkPairs(userWalks(s, dir), window = WalkWindow)

  /** node2vec bias weights for the biased-walk catalog entry: returning
    * to the previous node is discouraged 10× (DFS-flavored exploration,
    * high p in node2vec terms), moving beyond the previous node's
    * neighborhood is discouraged 1.5× (mild q > 1). */
  val WalkRetPermille = 100L
  val WalkInPermille = 1000L
  val WalkOutPermille = 1500L

  /** node2vec-style biased walk corpus over the user graph
    * ([[graft.graph.GraphOps.biasedWalks]] — 2nd-order Markov steps via
    * the deterministic hash-div-weight argmin; the oracle re-derives
    * every hop including the previous-node adjacency probe). */
  def userWalksBiased(s: SparkSession, dir: String): DataFrame =
    graph.GraphOps.biasedWalks(userGraphEdges(s, dir),
      length = WalkLength, walksPerNode = WalksPerNode,
      retPermille = WalkRetPermille, inPermille = WalkInPermille,
      outPermille = WalkOutPermille, seed = WalkSeed)

  /** Embedding near-dup groups on a floor(x*2) grid — first 8 dims as
    * grouping keys (bit-exact vs the SQL oracle). */
  def dedupEmbeddingGrid(s: SparkSession, dir: String): DataFrame = {
    val e = table(s, dir, "embeddings")
    val cells = (0 until 8).map(i =>
      floor(element_at(col("embedding"), i + 1).cast("double") * 2)
        .cast("long").as(s"c$i"))
    e.groupBy(cells: _*)
      .agg(count(lit(1)).as("n_members"), min(col("vec_id")).as("keep_id"))
  }

  /** Quantized-integer cosine pairs at τ = 0.15 (τ² = 9/400), LSH-blocked —
    * the integer cross-multiply compare makes the oracle bit-exact. */
  def dedupEmbeddingCosine(s: SparkSession, dir: String): DataFrame =
    SimSearch.quantizedCosinePairs(table(s, dir, "embeddings"),
      tauNum = 9L, tauDen = 400L)

  // ------------------------------------------------------------- simsearch

  private def queryVector(s: SparkSession, dir: String): Seq[Float] =
    table(s, dir, "embeddings").filter(col("vec_id") === 0)
      .select(col("embedding")).head().getSeq[Float](0)

  /** Integer-quantized dot-product top-20 (bit-exact oracle). */
  def simsearchQdot(s: SparkSession, dir: String): DataFrame =
    SimSearch.quantizedDotTopK(table(s, dir, "embeddings"),
      queryVector(s, dir), k = 20)

  /** Cosine brute-force top-20 with the portable sign(dot)·dot²/‖v‖²
    * ordering over quantized integers — bit-exact oracle. The float
    * CosineSimilarityExpr brute force remains the spec-tested recall
    * baseline. */
  def simsearchCosine(s: SparkSession, dir: String): DataFrame =
    SimSearch.quantizedCosineTopK(table(s, dir, "embeddings"), queryVector(s, dir), k = 20)

  /** Session-scoped MATERIALIZED ANN index over the corpus: built once
    * (stored bucket + cell partition columns, persisted centroids), then
    * every LSH/IVF query prunes partitions instead of recomputing plane
    * dots / centroid distances over the full corpus per call. */
  private def annIndex(s: SparkSession, dir: String): graft.sources.AnnIndex.Handle =
    graft.sources.AnnIndex.forTable(
      table(s, dir, "embeddings"), s, s"$dir#embeddings", bits = 4, nCells = 16)

  /** Integer-LSH ANN with Hamming≤1 multi-probe, ranked by quantized dot —
    * bit-exact oracle + recall@20 gate vs brute force in OperatorsSpec.
    * Served from the materialized index (partition prune on `bucket`). */
  def simsearchLsh(s: SparkSession, dir: String): DataFrame =
    annIndex(s, dir).lshTopK(queryVector(s, dir), k = 20)

  /** IVF ANN with the integer-quantized coarse quantizer (bit-exact oracle
    * — training included) served from the materialized index (partition
    * prune on `cell`, centroids trained once at build). */
  def simsearchIvf(s: SparkSession, dir: String): DataFrame =
    annIndex(s, dir).ivfTopK(queryVector(s, dir), k = 20, nProbe = 3)

  // ---------------------------------------------------------- text analysis

  def textTokenCount(s: SparkSession, dir: String): DataFrame =
    TextAnalysis.tokenCounts(table(s, dir, "documents"))

  def textQuality(s: SparkSession, dir: String): DataFrame =
    TextAnalysis.quality(table(s, dir, "documents"))

  def textLangId(s: SparkSession, dir: String): DataFrame =
    TextAnalysis.langId(table(s, dir, "documents")).drop("lang", "source", "n_chars")

  /** Sequence packing over the documents table at seqLen = 2048: the
    * scale-safe two-pass distributed prefix sum (no single-partition
    * Window — PackingSpec asserts the plan) assigns each doc its stream
    * offset and training bin. */
  def textPack(s: SparkSession, dir: String): DataFrame =
    // spreadSmall: the heavy size(split(text)) projection rides the map
    // side of packChunked's range exchange — over the single-split staged
    // scan it ran as ONE task; the output is partition-independent (global
    // doc_id-ordered prefix sum), so the adaptive spread only moves work
    operators.Packing.packChunked(
      operators.Dedup.spreadSmall(table(s, dir, "documents")), seqLen = 2048)

  /** Per-chunk packing rows at the same seqLen: every (doc, bin) slice
    * with its offset inside the bin — the fully-enumerable training
    * layout (docs crossing bin boundaries emit one row per bin). */
  def textPackChunks(s: SparkSession, dir: String): DataFrame =
    operators.Packing.packChunks(
      operators.Dedup.spreadSmall(table(s, dir, "documents")), seqLen = 2048)

  def textRepetition(s: SparkSession, dir: String): DataFrame =
    TextAnalysis.repetition(table(s, dir, "documents"))

  /** TF-IDF key-term extraction: each doc's top-3 distinguishing terms
    * under the integer idf surrogate ([[operators.TextAnalysis.keyTerms]]
    * — rankings match log-idf whenever df differ; the surrogate keeps
    * the oracle bit-exact). */
  def textKeyTerms(s: SparkSession, dir: String): DataFrame =
    TextAnalysis.keyTerms(table(s, dir, "documents"), k = 3)

  /** C4/RefinedWeb line-level boilerplate removal: lines appearing in ≥ 2
    * distinct documents are dropped from every document carrying them
    * (on the single-line testdata corpus this degenerates to whole-text
    * dedup — exactly what the rule prescribes there; the multi-line
    * semantics are spec-tested). */
  def textLineDedup(s: SparkSession, dir: String): DataFrame =
    Dedup.lineDedup(table(s, dir, "documents"), minDocs = 2L)

  /** The full Gopher quality rule set over the documents table. */
  def textGopher(s: SparkSession, dir: String): DataFrame =
    TextAnalysis.gopherQuality(table(s, dir, "documents"))

  /** PII redaction over the documents table. The corpus is synthetic word
    * soup with nothing to redact, so the binder plants deterministic
    * doc_id-derived emails/IPs/phones first ([[TextAnalysis.withPlantedPii]]
    * — the text analog of the multimodal entry's planted image headers);
    * the oracle reconstructs the same planted text with string
    * concatenation and runs the same regexes through RE2, so the masking
    * and the counts are verified by an independent regex engine. */
  def textPii(s: SparkSession, dir: String): DataFrame =
    TextAnalysis.piiRedact(TextAnalysis.withPlantedPii(
      table(s, dir, "documents").select(col("doc_id"), col("text"))))

  /** Window length for repeated-passage detection and the cross-source
    * overlap census — shared with the generated oracle SQL. */
  val PassageK = 8

  /** Repeated-passage detection: maximal duplicated k-token spans. */
  def textDupPassages(s: SparkSession, dir: String): DataFrame =
    Dedup.dupPassages(table(s, dir, "documents"), k = PassageK, minDocs = 2L)

  /** Cross-source n-gram overlap census (contamination matrix). */
  def corpusOverlap(s: SparkSession, dir: String): DataFrame =
    Dedup.crossSourceOverlap(table(s, dir, "documents"), k = PassageK)

  /** Detection → removal composed: strip every duplicated passage
    * [[Dedup.dupPassages]] finds from the corpus (exact-duplicate docs
    * come back as the empty string — all their tokens are shared). */
  def textPassageClean(s: SparkSession, dir: String): DataFrame = {
    val docs = table(s, dir, "documents")
    Dedup.removePassages(docs, Dedup.dupPassages(docs, k = PassageK, minDocs = 2L))
  }

  /** Uniform language-mix rebalancing: deterministic downsampling of
    * over-represented languages toward the uniform share. */
  def textMixture(s: SparkSession, dir: String): DataFrame =
    operators.Sampling.mixtureSample(
      table(s, dir, "documents").select(col("doc_id"), col("lang")),
      idCol = col("doc_id"), groupCol = col("lang"))
      .select(col("doc_id"), col("lang"), col("rate_pm"), col("coin"))

  /** fastText-style hashed linear classifier score per document (shares
    * the session-cached word vocabulary with fingerprint/simhash). */
  def textClassifier(s: SparkSession, dir: String): DataFrame =
    TextAnalysis.classifierScore(table(s, dir, "documents"),
      vocabKey = Some(s"$dir#documents#words"))

  /** A-ES weighted exact-k sample: 8 docs per language, weighted by token
    * count ([[operators.Sampling.weightedExactK]] — priority = hash div
    * weight, longer docs proportionally likelier; the quality-weighted
    * selection primitive). */
  def textSampleWeighted(s: SparkSession, dir: String): DataFrame =
    operators.Sampling.weightedExactK(
      table(s, dir, "documents").select(col("doc_id"), col("lang"), col("text")),
      idCol = col("doc_id"), stratum = col("lang"),
      weight = size(split(col("text"), " ")), k = 8)

  /** KMV bottom-k distinct-token estimates per language beside the exact
    * distinct counts ([[TextAnalysis.kmvDistinctTokens]] — the
    * approximate-distinct primitive; exact side = the demonstration). */
  def textKmvDistinct(s: SparkSession, dir: String): DataFrame =
    TextAnalysis.kmvDistinctTokens(
      table(s, dir, "documents").select(col("lang"), col("text")))

  /** Count-min-sketch token-frequency estimates beside the exact counts
    * ([[TextAnalysis.cmsTokenCounts]] — the 100 TB heavy-hitter primitive;
    * the exact side exists to exhibit est ≥ exact). */
  def textCmsCounts(s: SparkSession, dir: String): DataFrame =
    TextAnalysis.cmsTokenCounts(
      table(s, dir, "documents").select(col("doc_id"), col("text")))

  /** Target mix for the weighted-mixture catalog entry (ppm of the final
    * corpus per language; shared with the generated oracle's VALUES list).
    * en is deliberately UNDER its actual share (→ a real cut) while the
    * rest sit above theirs (→ capped at keep-everything). */
  val MixtureTargets: Seq[(String, Long)] = Seq(
    "en" -> 300000L, "de" -> 175000L, "es" -> 175000L,
    "fr" -> 175000L, "zh" -> 175000L)

  /** Blocklisted registered domains for the URL-filter catalog entry
    * (shared with the generated oracle's VALUES list). The planting
    * scheme produces hosts w{·}.example{0..6}.org, so these flag the
    * doc_id % 7 ∈ {2, 5} subset of the planted rows. */
  val UrlBlocklist: Seq[String] = Seq("example2.org", "example5.org")

  /** URL/domain blocklist filter over planted URLs (the C4/UT1 curation
    * stage); the oracle re-runs the same three regexes through RE2. */
  def textUrlFlags(s: SparkSession, dir: String): DataFrame = {
    import s.implicits._
    TextAnalysis.urlFlags(
      TextAnalysis.withPlantedUrls(
        table(s, dir, "documents").select(col("doc_id"), col("text"))),
      blocklist = UrlBlocklist.toDF("domain"))
  }

  /** Cluster-size histogram of the dedup keep-list (reporting rollup). */
  def dedupClusterSizes(s: SparkSession, dir: String): DataFrame =
    Dedup.clusterSizeHistogram(
      Dedup.keepList(table(s, dir, "documents"), minSharedPct = 80,
        vocabKey = Some(s"$dir#documents#sh3")))

  /** Token-distribution drift between the doc_id-parity snapshot halves
    * (the deterministic stand-in for yesterday's vs today's crawl). */
  def corpusDrift(s: SparkSession, dir: String): DataFrame = {
    val docs = table(s, dir, "documents")
    TextAnalysis.tokenDrift(
      docs.filter(col("doc_id") % 2 === 0),
      docs.filter(col("doc_id") % 2 =!= 0), topN = 50)
  }

  /** Per-language corpus AUDIT — the one-table report a curation team
    * reads before running the pipeline: volumes, how much is duplicated
    * (docs whose keep_id is another doc), how much passes the quality
    * gates. Composable form: takes the corpus and its keep-list. */
  def corpusAuditOver(docs: DataFrame, keepList: DataFrame,
                      config: CurationConfig = CurationConfig()): DataFrame = {
    val dupIds = keepList.filter(col("doc_id") =!= col("keep_id"))
      .select(col("doc_id"), lit(1L).as("is_dup"))
    // the SAME word gates the pipeline applies, read from the SAME config
    // the generated oracle interpolates — constants can never drift
    val gates = TextAnalysis.gopherQuality(docs).select(col("doc_id"),
      (col("n_words").between(config.minWords, config.maxWords) &&
        col("mean_word_len").between(config.minMeanWordLen, config.maxMeanWordLen))
        .cast("long").as("passq"))
    docs.select(col("doc_id"), col("lang"),
        size(split(col("text"), " ")).cast("long").as("n_tokens"))
      .join(dupIds, Seq("doc_id"), "left")
      .join(gates, Seq("doc_id"), "left")
      .groupBy(col("lang"))
      .agg(count(lit(1)).as("n_docs"),
        sum(coalesce(col("is_dup"), lit(0L))).as("n_dup_docs"),
        sum(coalesce(col("passq"), lit(0L))).as("n_pass_quality"),
        sum(col("n_tokens")).as("total_tokens"))
  }

  def corpusAudit(s: SparkSession, dir: String): DataFrame = {
    val docs = table(s, dir, "documents")
    corpusAuditOver(docs, Dedup.keepList(docs, minSharedPct = 80,
      vocabKey = Some(s"$dir#documents#sh3")))
  }

  /** Weighted (DoReMi-style) language-mix rebalance toward
    * [[MixtureTargets]]; coin at hash index 2 so composing with the
    * uniform mixture or the stratified sampler never correlates. */
  def textMixtureWeighted(s: SparkSession, dir: String): DataFrame = {
    import s.implicits._
    operators.Sampling.mixtureSampleTo(
      table(s, dir, "documents").select(col("doc_id"), col("lang")),
      idCol = col("doc_id"), groupCol = col("lang"),
      targets = MixtureTargets.toDF("grp", "target_ppm"), hashIdx = 2)
      .select(col("doc_id"), col("lang"), col("rate_pm"), col("coin"))
  }

  def textFingerprint(s: SparkSession, dir: String): DataFrame =
    TextAnalysis.fingerprintsPortable(table(s, dir, "documents"),
      vocabKey = Some(s"$dir#documents#words"))

  /** Deterministic stratified sampling over the documents table: strata
    * are length bands (short < 50 words), short docs kept at 250‰ and
    * long at 750‰ — the data-mixing step after dedup + decontamination.
    * The LCG coin is a pure function of doc_id, so the sample is
    * identical under reruns, resumes and any repartitioning (unlike
    * rand(seed)); output carries the coin for oracle verification. */
  def textSample(s: SparkSession, dir: String): DataFrame =
    operators.Sampling.stratifiedSample(
      table(s, dir, "documents").select(col("doc_id"), col("text")),
      idCol = col("doc_id"),
      stratum = when(size(split(col("text"), " ")) < 50, "short").otherwise("long"),
      ratesPermille = Seq("short" -> 250, "long" -> 750))
      .select(col("doc_id"), col("stratum"), col("coin"))

  /** Corpus-level statistics rollup per (lang, source) — the reporting
    * table a curation run publishes next to its keep-list: doc counts,
    * token/char volumes, per-group distinct vocabulary and mean document
    * length. Two map-side-combinable aggregations (the distinct-token
    * count is the standard two-phase expand) joined on the group key;
    * every output is an exact integer except one per-group division. */
  def corpusStats(s: SparkSession, dir: String): DataFrame =
    corpusStatsOver(table(s, dir, "documents"))

  def corpusStatsOver(docs: DataFrame): DataFrame = {
    val base = docs.groupBy(col("lang"), col("source")).agg(
      count(lit(1)).as("n_docs"),
      sum(size(split(col("text"), " ")).cast("long")).as("total_tokens"),
      sum(length(col("text")).cast("long")).as("total_chars"))
    val uniq = docs
      .select(col("lang"), col("source"),
        explode(split(col("text"), " ")).as("w"))
      .groupBy(col("lang"), col("source"))
      .agg(countDistinct(col("w")).as("distinct_tokens"))
    // NULL-SAFE join on the group keys: both aggregations emit the null
    // group, and a plain equi-join would silently drop it — a corpus with
    // failed language ID (lang = null) would vanish from the rollup and
    // the stats table would stop reconciling with the corpus totals.
    // LEFT join + coalesce(0): a group whose docs ALL have null text
    // emits no row on the distinct-token side at all (explode of null
    // produces nothing), so an inner join would still drop the whole
    // group — the exact reconciliation failure the null-safe keys fix.
    base.join(uniq.withColumnRenamed("lang", "u_lang")
        .withColumnRenamed("source", "u_source"),
        col("lang") <=> col("u_lang") && col("source") <=> col("u_source"),
        "left")
      .select(col("lang"), col("source"), col("n_docs"), col("total_tokens"),
        col("total_chars"),
        coalesce(col("distinct_tokens"), lit(0L)).as("distinct_tokens"),
        (col("total_tokens").cast("double") / col("n_docs")).as("avg_doc_tokens"))
  }

  /** The END-TO-END curation deliverable, composed from the operator
    * family as ONE catalog entry — the table a 100 TB curation run ships.
    * The catalog entry PINS the demo parameterization — corpus = the
    * doc_id % 5 ≠ 0 slice, eval = the % 5 = 0 slice, default
    * [[graft.CurationConfig]] gates/rates — and the generated DuckDB
    * mirror chains the same CTE fragments from the same constants, so the
    * end-to-end result is bit-exact. Production runs call
    * [[curationPipelineOver]] with a REAL external eval table (or none)
    * and their own config — see [[CurationJob]]. */
  def curationPipeline(s: SparkSession, dir: String): DataFrame = {
    val docs = table(s, dir, "documents")
    curationPipelineOver(
      docs.filter(col("doc_id") % 5 =!= 0),
      // eval side spread: its 8-gram explode is the decontam broadcast
      // BUILD and ran as one 5.5s task over the single-split staged scan
      // (broadcast-exchange jobs surface as CompletableFuture callsites);
      // a no-op whenever the eval scan is already as parallel as the
      // cluster
      evalSet = Some(operators.Dedup.spreadSmall(
        docs.filter(col("doc_id") % 5 === 0))),
      vocabKey = Some(s"$dir#documents_c#sh3"))
  }

  /** The end-to-end curation composition over any (doc_id, text) corpus —
    * the form [[CurationJob]] materializes:
    *
    *   0. (optional, `config.lineDedupMinDocs`) line-level boilerplate
    *      removal — cross-doc duplicated lines stripped, text REWRITTEN,
    *      so every later stage sees the cleaned corpus (RefinedWeb order);
    *   1. dedup keep-list over the corpus → keep only cluster
    *      representatives (doc_id == keep_id);
    *   2. benchmark decontamination against `evalSet` — drop flagged
    *      corpus docs (left-anti). None → stage skipped: decontamination
    *      only makes sense against a real held-out suite, never against
    *      a slice of the corpus itself;
    *   3. quality gate: word count ∈ [minWords, maxWords] and mean word
    *      length ∈ [minMeanWordLen, maxMeanWordLen] (or the FULL Gopher
    *      rule set with `config.fullGopher` — off for the synthetic
    *      catalog corpus, whose vocabulary carries no English stop
    *      words), plus the intra-doc repetition gate (bigram duplicate
    *      fraction ≤ `maxBigramDupFrac` — machine-generated/boilerplate
    *      text filters here);
    *   4. deterministic stratified sampling (length band at
    *      `shortBandWords`, per-stratum permille rates);
    *   5. sequence packing at `config.seqLen` (distributed prefix sum).
    *
    * Output: (doc_id, stratum, n_tokens, start_offset, bin) for every
    * surviving document. Scale shape: the stages compose without
    * materialization except the keep-list's connected components
    * (inherently iterative) — gates/coins are per-row, the decontam side
    * is broadcast, packing is the two-pass scan.
    *
    * `precomputedKeepList` lets a caller that already built the keep-list
    * (CurationJob writes it as its own deliverable) share it instead of
    * re-running the LSH verification + connected-components closure — the
    * pipeline's dominant cost — a second time; it must have been computed
    * over the same (post-line-dedup, if enabled) corpus. */
  def curationPipelineOver(docs: DataFrame,
                           evalSet: Option[DataFrame],
                           config: CurationConfig = CurationConfig(),
                           vocabKey: Option[String] = None,
                           precomputedKeepList: Option[DataFrame] = None): DataFrame = {
    val base = config.lineDedupMinDocs match {
      case Some(m) => Dedup.lineDedup(docs.select(col("doc_id"), col("text")), m)
        .select(col("doc_id"), col("clean_text").as("text"))
      case None => docs.select(col("doc_id"), col("text"))
    }
    val keep = precomputedKeepList.getOrElse(
      Dedup.keepList(base, minSharedPct = config.minSharedPct, vocabKey = vocabKey))
    // pin the surviving-representative table to an explicit fixed-count
    // partitioning: every downstream stage (decontamination gram explode,
    // Gopher/repetition/classifier per-row passes, PII redaction) inherits
    // this layout, and AQE's byte-based coalescing would otherwise run
    // them all on the 1-2 partitions the keep join's small exchange
    // collapses to (measured as one 16s task at sf0.1)
    // reps and clean each feed SEVERAL downstream consumers (decontam +
    // the anti-join left side read reps; Gopher/repetition/classifier and
    // the gated join all read clean) — localCheckpoint materializes each
    // once, so the line-dedup + keep join and the decontamination gram
    // join run one time instead of once per consumer (the same argument
    // as the `sampled` checkpoint below; measured ~4 re-evaluations of
    // the keep join without it)
    val reps = base.join(
      keep.filter(col("doc_id") === col("keep_id")).select("doc_id"), "doc_id")
      .repartition(docs.sparkSession.sparkContext.defaultParallelism,
        col("doc_id"))
      .localCheckpoint()
    // decontamination flags are per-doc (vs the eval set only), so running
    // the gram join on the surviving reps is equivalent to flagging the
    // whole corpus and cheaper
    val clean = evalSet match {
      case Some(ev) =>
        val contaminated = Dedup.decontaminate(reps, ev,
          shingleN = config.decontamShingleN).select(col("doc_id"))
        // pin BEFORE the checkpoint: the anti-join's output inherits an
        // AQE-coalesced 1-partition layout, and an unpinned checkpoint
        // freezes it — every downstream per-row gate pass then ran as one
        // task (measured; the same argument as the reps pin above)
        reps.join(contaminated, Seq("doc_id"), "left_anti")
          .repartition(docs.sparkSession.sparkContext.defaultParallelism,
            col("doc_id"))
          .localCheckpoint()
      case None => reps
    }
    val gq = TextAnalysis.gopherQuality(clean)
    val gateIds =
      (if (config.fullGopher) gq.filter(col("passes_gopher") === 1)
       else gq.filter(
         col("n_words").between(config.minWords, config.maxWords) &&
           col("mean_word_len").between(config.minMeanWordLen, config.maxMeanWordLen)))
        .select(col("doc_id"))
    val qualIds = config.maxBigramDupFrac match {
      case Some(t) => gateIds.join(
        TextAnalysis.repetition(clean).filter(col("bi_dup_frac") <= t)
          .select(col("doc_id")), "doc_id")
      case None => gateIds
    }
    // optional learned-quality gate: the hashed linear classifier's logit
    // (vocabulary ranked over the gate's own input — deterministic)
    val scoredIds = config.minClassifierLogit match {
      case Some(t) => qualIds.join(
        TextAnalysis.classifierScore(clean).filter(col("logit") >= t)
          .select(col("doc_id")), "doc_id")
      case None => qualIds
    }
    val gated = clean.join(scoredIds, "doc_id")
    // PII redaction AFTER dedup/decontam/gates (masks would perturb the
    // dedup hashes and quality stats) and BEFORE sampling/packing, so no
    // address ever reaches a training bin
    val qual =
      if (config.redactPii)
        TextAnalysis.piiRedact(gated)
          .select(col("doc_id"), col("clean_text").as("text"))
      else gated
    // the sampled survivors feed TWO branches (the packing input and the
    // stratum join-back); localCheckpoint materializes them once, so the
    // decontamination gram join and quality pass upstream are not
    // re-evaluated per branch (the CC closure already checkpoints itself)
    val sampled = operators.Sampling.stratifiedSample(qual, col("doc_id"),
        when(size(split(col("text"), " ")) < config.shortBandWords, "short")
          .otherwise("long"),
        Seq("short" -> config.shortPermille, "long" -> config.longPermille))
      .select(col("doc_id"), col("text"), col("stratum"))
      // pin before the checkpoint: the gate joins collapse this table to
      // 1-2 partitions under AQE, the checkpoint froze that layout, and
      // packChunked's heavy size(split(text)) map side then ran as ONE
      // task (measured 5.1s); packChunked's output is partition-
      // independent (global doc_id-ordered prefix sum)
      .repartition(docs.sparkSession.sparkContext.defaultParallelism,
        col("doc_id"))
      .localCheckpoint()
    operators.Packing.packChunked(
        sampled.select(col("doc_id"), col("text")), seqLen = config.seqLen)
      .join(sampled.select(col("doc_id"), col("stratum")), "doc_id")
      .select(col("doc_id"), col("stratum"), col("n_tokens"),
        col("start_offset"), col("bin"))
  }

  /** Stage the per-corpus artifacts ONCE, outside query timing: the two
    * token-rank vocabularies and the materialized ANN index. These are
    * corpus BUILD products — computed once per corpus and read by many
    * queries, exactly like Bench.stageCorpus' parquet staging — not
    * per-query work. Bench calls this before the catalog loop; Verify
    * lets the first consuming query pay instead (correctness runs don't
    * time anything). Idempotent: every artifact is session-cached. */
  def stageCorpusArtifacts(s: SparkSession, dir: String): Unit = {
    val docs = table(s, dir, "documents")
    Dedup.tokenVocabCached(Dedup.shingleRows(docs, 3),
      Some(s"$dir#documents#sh3")).count()
    // the curation pipeline's corpus is the %5≠0 slice (eval = the rest),
    // so its keep-list ranks a vocabulary over that slice's shingles
    Dedup.tokenVocabCached(
      Dedup.shingleRows(docs.filter(col("doc_id") % 5 =!= 0), 3),
      Some(s"$dir#documents_c#sh3")).count()
    Dedup.tokenVocabCached(
      docs.select(col("doc_id"),
        explode(array_distinct(split(col("text"), " "))).as("sh")),
      Some(s"$dir#documents#words")).count()
    annIndex(s, dir)
    // the delta entry's persisted signature store (build-or-validate) —
    // without this the first timed dedup_keep_list_delta attempt records
    // the old run's signature build + parquet write instead of the delta
    deltaSigStore(s, dir).count()
  }

  // ------------------------------------------------- KG over driver tables

  /** Inline dictionary/trigger lexicon over the testdata vocabulary (no
    * word is a substring of another vocabulary word, so replace-counting
    * equals word counting — verified in OperatorsSpec). */
  val kgDictWords: Seq[String] = Seq("customer", "part", "vector", "column", "stream")
  val kgTriggerWords: Seq[String] = Seq("merge", "join")

  private def wordCount(text: Column, wrd: String): Column =
    ((length(text) - length(replace(text, lit(wrd), lit("")))) / wrd.length).cast("int")

  /** Mention counts per (doc, surface) — dictionary-scan semantics.
    * ONE projection computes every surface's count, then a literal struct
    * array explodes into (surface, n) rows: one FileScan total (asserted in
    * PlanSpec), where a per-word union would re-read the table |dict| times
    * — a |dict|× read amplification at 100 TB. */
  def kgMentions(s: SparkSession, dir: String): DataFrame = {
    val counts = array(kgDictWords.map(wrd =>
      struct(lit(wrd).as("surface"),
        wordCount(col("text"), wrd).as("n_mentions"))): _*)
    operators.Dedup.spreadSmall(table(s, dir, "documents"))
      .select(col("doc_id"), explode(counts).as("m"))
      .select(col("doc_id"), col("m.surface").as("surface"),
        col("m.n_mentions").as("n_mentions"))
      .filter(col("n_mentions") > 0)
  }

  /** Per-doc mention totals and unordered candidate-pair counts
    * (n·(n−1)/2 — the J3 combinatorics). */
  def kgCooccurPairs(s: SparkSession, dir: String): DataFrame = {
    val d = operators.Dedup.spreadSmall(table(s, dir, "documents"))
    val n = kgDictWords.map(wrd => wordCount(col("text"), wrd))
      .reduce(_ + _)
    d.select(col("doc_id"), n.as("n_mentions"),
        ((n * (n - 1)) / 2).cast("long").as("n_pairs"))
      .filter(col("n_mentions") > 0)
  }

  /** Co-occurrence triples: (subj, pred, obj) for distinct dictionary
    * entities co-present in a doc that also carries a trigger word.
    * Single-scan shape: one projection computes the per-word presence flags
    * and the trigger flag, then a literal array of (subj, obj, both-present)
    * structs — the flags are evaluated per row BEFORE the explode — fans out
    * to the C(|dict|,2) pair branches. One FileScan (PlanSpec-asserted)
    * instead of ten filtered re-scans union'd together. */
  def kgTriples(s: SparkSession, dir: String): DataFrame =
    // spread the single-split staged scan before the per-row wordCount
    // flags (operators.Dedup.spreadSmall: no-op on an already-parallel
    // scan); the flag projection stays above the exchange
    kgTriplesOf(operators.Dedup.spreadSmall(table(s, dir, "documents")))

  /** The same single-scan extraction as [[kgTriples]], as a TRANSFORM on
    * any (doc_id, text) frame — stateless per row, so it applies verbatim
    * to a STREAMING source ([[kgStreamEdges]]) and to corpus slices
    * ([[kgEdgeRollupDelta]]). */
  def kgTriplesOf(d: DataFrame): DataFrame = {
    val withFlags = kgDictWords.foldLeft(d.select(col("doc_id"), col("text"))) {
      (df, wrd) => df.withColumn(s"has_$wrd", wordCount(col("text"), wrd) > 0)
    }.withColumn("has_trigger",
      kgTriggerWords.map(t => wordCount(col("text"), t) > 0).reduce(_ || _))
    val pairs = for {
      i <- kgDictWords.indices; j <- (i + 1) until kgDictWords.length
    } yield (kgDictWords(i), kgDictWords(j))
    val pairArr = array(pairs.map { case (a, b) =>
      struct(lit(a).as("subj"), lit(b).as("obj"),
        (col(s"has_$a") && col(s"has_$b")).as("both"))
    }: _*)
    withFlags
      .select(col("doc_id"), col("has_trigger"), explode(pairArr).as("p"))
      .filter(col("p.both") && col("has_trigger"))
      .select(col("doc_id"), col("p.subj").as("subj"),
        lit("co_complex").as("pred"), col("p.obj").as("obj"))
  }

  /** INCREMENTAL KG maintenance: yesterday's edge rollup (doc_id % 4 ≠ 3)
    * merged with the rollup of today's delta slice (% 4 == 3) — counts
    * add, provenance takes the minimum — without re-aggregating
    * yesterday's documents beyond their (in production: persisted) rollup.
    * The oracle is THE SAME full-recompute SQL as kg_edge_rollup, so the
    * hash match proves merged-incremental == from-scratch by an
    * independent engine (the keepListDelta theorem applied to KG
    * construction). The merge itself is one full-outer join on the edge
    * key — at a billion edges both sides arrive pre-aggregated and the
    * join co-partitions on (subj, pred, obj), the same key a bucketed
    * rollup store would be laid out on. */
  def kgEdgeRollupDelta(s: SparkSession, dir: String): DataFrame = {
    val t = kgTriples(s, dir)
    val oldRollup = kgRollupOf(t.filter(col("doc_id") % 4 =!= 3))
    val delta = kgRollupOf(t.filter(col("doc_id") % 4 === 3))
    oldRollup.as("o").join(delta.as("n"), Seq("subj", "pred", "obj"), "full_outer")
      .select(col("subj"), col("pred"), col("obj"),
        (coalesce(col("o.n_docs"), lit(0L))
          + coalesce(col("n.n_docs"), lit(0L))).as("n_docs"),
        // Spark's least skips nulls; only-one-side edges keep their side
        least(col("o.first_doc"), col("n.first_doc")).as("first_doc"))
  }

  /** STREAMING KG construction: the documents table replayed as a file
    * stream, the [[kgTriplesOf]] extraction applied per micro-batch
    * (stateless row-local transform), and the edge rollup maintained as a
    * streaming aggregation (complete mode — count and min are both
    * incrementally maintainable states). The oracle is the BATCH rollup
    * SQL: the hash match proves stream == batch, the q13 parity contract
    * extended from event analytics to graph construction. At scale the
    * same plan runs against a real queue with a watermark; the memory
    * sink is the sandbox stand-in. */
  def kgStreamEdges(s: SparkSession, dir: String): DataFrame = {
    val schema = table(s, dir, "documents").schema
    val stream = s.readStream.schema(schema).parquet(s"$dir/documents.parq*")
    val edges = kgTriplesOf(stream)
      .groupBy(col("subj"), col("pred"), col("obj"))
      .agg(count(lit(1)).as("n_docs"), min(col("doc_id")).as("first_doc"))
    s.catalog.dropTempView("graft_stream_kg") // false when absent
    val q = edges.writeStream.outputMode("complete")
      .format("memory").queryName("graft_stream_kg").start()
    try q.processAllAvailable() finally q.stop()
    s.table("graft_stream_kg")
  }

  /** The REAL extraction pipeline over the driver's documents table
    * (adapted to the Doc shape): Aho-Corasick mention detection → pair
    * generation → window encoding → lexicon scoring → triples. Positional
    * trigger-between semantics, mirrored exactly by the oracle SQL in
    * SparkEntry (valid on this corpus: punctuation-free single-sentence
    * word soup, no vocab word contains a dict/trigger surface). */
  def kgPipelineTriples(s: SparkSession, dir: String): DataFrame =
    kgPipelineRun(s, dir).triples
      // Doc ids ride through the typed pipeline as STRING; cast back to the
      // source table's BIGINT so the driver's dtype-sensitive hash matches
      // (same convention as multimodalFeatures below).
      .select(col("doc_id").cast("long").as("doc_id"),
        col("subj"), col("pred"), col("obj"))

  /** [[KgPipeline.run]] over the documents table in the Doc shape, with
    * the catalog dictionary, no equivalence edges and the lexicon scorer
    * — the one pipeline run of [[kgPipelineTriples]] and [[kgNodes]]. */
  private def kgPipelineRun(s: SparkSession, dir: String): KgPipeline.Output = {
    implicit val spark: SparkSession = s
    import s.implicits._
    val docs = operators.Dedup.spreadSmall(table(s, dir, "documents"))
      .select(col("doc_id").cast("string").as("doc_id"), col("text"))
      .as[(String, String)]
      .map { case (id, text) => Doc(id, Seq(Span("text", text, "", 0))) }
    val dict = kgDictWords.map(w => DictEntry(w, s"ent:$w", "Protein"))
    KgPipeline.run(docs, dict, s.emptyDataset[EquivEdge],
      new LexiconScorer(kgTriggerWords.toSet))
  }

  /** The pipeline's NODE table (S7 entity writeback) over the driver
    * documents: canonical id + tag + mention count + surface-set shape.
    * Arrays don't compare portably across engines, so the query exposes
    * the set's size and minimum — with the single-surface dictionary both
    * are exact. */
  def kgNodes(s: SparkSession, dir: String): DataFrame =
    kgPipelineRun(s, dir).nodes
      .select(col("node_id"), col("tag"), col("n_mentions"),
        size(col("surfaces")).cast("long").as("n_surfaces"),
        element_at(col("surfaces"), 1).as("first_surface"))

  // ------------------------------------------------------------ multimodal

  /** Multimodal plumbing with the HONEST decoder: the binder plants real
    * PNG/JPEG headers on the doc_id % 10 ∈ {3, 7} rows and
    * [[Multimodal.HeaderDecoder]] parses them for real (IHDR / SOF0 walk);
    * every other row keeps the UTF-8 payload and the deterministic
    * FakeDecoder features. The oracle recomputes the planted dims from
    * doc_id, so the REAL decode path is driver-verified, not only
    * spec-verified. */
  def multimodalFeatures(s: SparkSession, dir: String): DataFrame = {
    implicit val spark: SparkSession = s
    val media = Multimodal.fromDocumentsWithImages(
      table(s, dir, "documents").select(col("doc_id"), col("text")))
    Multimodal.extractFeatures(media,
        decoder = Multimodal.HeaderDecoder.decodeBatch).toDF()
      .select(col("doc_id").cast("long").as("doc_id"), col("n_bytes"),
        col("width"), col("height"), col("n_frames"))
  }

  /** Multimodal AUDIO plumbing with the honest decoder: doc_id % 10 == 5
    * rows carry a real RIFF/WAVE PCM header that
    * [[Multimodal.AudioHeaderDecoder]] parses for real (fmt + data
    * subchunk walk); every other row keeps the UTF-8 payload and the
    * deterministic FakeAudioDecoder parameters. The oracle recomputes the
    * planted rates/samples from doc_id — the audio twin of
    * [[multimodalFeatures]]. */
  def multimodalAudio(s: SparkSession, dir: String): DataFrame = {
    implicit val spark: SparkSession = s
    val media = Multimodal.fromDocumentsWithAudio(
      table(s, dir, "documents").select(col("doc_id"), col("text")))
    Multimodal.extractAudio(media).toDF()
      .select(col("doc_id").cast("long").as("doc_id"), col("n_bytes"),
        col("sample_rate"), col("channels"), col("n_samples"),
        col("dur_ms"))
  }

  // ------------------------------------ KG schema induction (typed preds)

  /** Typed-predicate lexicon for the schema-induction entries: the relation
    * LABEL is the co-present verb (reference semantics: the trigger word
    * becomes the relation type — large_scale_explanation_helper.py's
    * trigger lexicon generalized from a boolean gate to the predicate
    * itself). Like [[kgDictWords]], no lexicon word is a substring of any
    * other testdata-vocabulary word, so replace-counting equals word
    * counting. */
  val kgPredWords: Seq[String] = Seq("filter", "group", "merge", "scan", "sort")

  /** Deterministic entity-type assignment for domain/range induction —
    * the stand-in for the dictionary's tag column (reference: DictEntry
    * tags like Protein/Complex). */
  val kgEntityTypes: Map[String, String] = Map(
    "customer" -> "biz", "part" -> "biz",
    "vector" -> "data", "column" -> "data", "stream" -> "data")

  private def entityTypeCol(c: Column): Column =
    kgEntityTypes.tail.foldLeft(
      when(c === kgEntityTypes.head._1, kgEntityTypes.head._2)) {
      case (acc, (w, t)) => acc.when(c === w, t)
    }

  /** TYPED triple extraction: (subj, pred, obj) for each dictionary pair
    * co-present in a doc, one row PER co-present predicate verb. Same
    * single-scan shape as [[kgTriplesOf]] — per-word flags in one
    * projection, then a literal array of C(5,2)·|preds| = 50 struct
    * branches exploded — so the fan-out costs one FileScan regardless of
    * lexicon size (PlanSpec-asserted). */
  def kgTypedTriplesOf(d: DataFrame): DataFrame = {
    val words = (kgDictWords ++ kgPredWords).distinct
    val withFlags = words.foldLeft(d.select(col("doc_id"), col("text"))) {
      (df, wrd) => df.withColumn(s"has_$wrd", wordCount(col("text"), wrd) > 0)
    }
    val branches = for {
      i <- kgDictWords.indices; j <- (i + 1) until kgDictWords.length
      p <- kgPredWords
    } yield struct(
      lit(kgDictWords(i)).as("subj"), lit(p).as("pred"),
      lit(kgDictWords(j)).as("obj"),
      (col(s"has_${kgDictWords(i)}") && col(s"has_${kgDictWords(j)}") &&
        col(s"has_$p")).as("ok"))
    withFlags
      .select(col("doc_id"), explode(array(branches: _*)).as("t"))
      .filter(col("t.ok"))
      .select(col("doc_id"), col("t.subj").as("subj"),
        col("t.pred").as("pred"), col("t.obj").as("obj"))
  }

  def kgTypedTriples(s: SparkSession, dir: String): DataFrame =
    kgTypedTriplesOf(operators.Dedup.spreadSmall(table(s, dir, "documents")))

  /** PREDICATE SCHEMA INDUCTION over the typed KG — the ontology the
    * extraction implies, computed instead of assumed: per predicate the
    * distinct-edge/subject/object counts, integer functionality ratios
    * (n_subj·1000 div n_edges — 1000 means every subject has exactly one
    * object under the predicate), and the MODAL domain/range entity type
    * (window-free argmax: min(struct(-count, type)), the kg_communities
    * idiom). At corpus scale every aggregate here runs over the distinct
    * EDGE set — millions of rows — never the raw per-document extraction
    * stream. Passes over the extraction: exactly TWO — one doc-level
    * scan for `base` (distinct docs per pred is not derivable from the
    * edge rollup) and one to build the distinct edge set, which is
    * localCheckpoint-ed (the curation-pipeline multi-consumer idiom)
    * because THREE aggregations read it. */
  def kgPredicateStats(s: SparkSession, dir: String): DataFrame =
    kgPredicateStatsOf(kgTypedTriples(s, dir))

  /** Modal (most frequent, min-type ties) entity type per predicate over
    * a typed edge frame — the window-free argmax shared by schema
    * induction and the violation audit, factored so the two cannot
    * drift. */
  private def modalTypeOf(e: DataFrame, tcol: String, out: String): DataFrame =
    e.groupBy(col("pred"), col(tcol)).agg(count(lit(1)).as("c"))
      .groupBy(col("pred"))
      .agg(min(struct((-col("c")).as("nc"), col(tcol).as("t"))).as("m"))
      .select(col("pred"), col("m.t").as(out))

  /** The typed distinct edge set with entity types, checkpointed once for
    * its multiple aggregation consumers. */
  private def typedEdgeSetOf(t: DataFrame): DataFrame =
    t.select(col("subj"), col("pred"), col("obj")).distinct()
      .withColumn("stype", entityTypeCol(col("subj")))
      .withColumn("otype", entityTypeCol(col("obj")))
      .localCheckpoint()

  /** [[kgPredicateStats]] as a transform on any (doc_id, subj, pred, obj)
    * frame — the spec drives it with hand corpora. */
  def kgPredicateStatsOf(t: DataFrame): DataFrame = {
    val e = typedEdgeSetOf(t)
    val base = t.groupBy(col("pred")).agg(
      count(lit(1)).as("n_triples"),
      countDistinct(col("doc_id")).as("n_docs"))
    val edges = e.groupBy(col("pred")).agg(
      count(lit(1)).as("n_edges"),
      countDistinct(col("subj")).as("n_subj"),
      countDistinct(col("obj")).as("n_obj"))
    base.join(edges, "pred")
      .join(modalTypeOf(e, "stype", "domain_type"), "pred")
      .join(modalTypeOf(e, "otype", "range_type"), "pred")
      .select(col("pred"), col("n_triples"), col("n_docs"), col("n_edges"),
        col("n_subj"), col("n_obj"),
        expr("(n_subj * 1000) div n_edges").as("functionality_permille"),
        expr("(n_obj * 1000) div n_edges").as("inv_functionality_permille"),
        col("domain_type"), col("range_type"))
  }

  /** META-PATH census over the typed KG: for every predicate pair
    * (p1, p2), the count of length-2 paths s -p1-> m -p2-> o and the
    * distinct mid entities carrying them — the schema-level connectivity
    * KG-embedding and rule-mining systems start from (PRA/AnyBURL path
    * features). The self-join runs on the DISTINCT edge set keyed by the
    * mid entity — the rolled-up graph, orders of magnitude below the
    * extraction stream — and AQE splits a skewed mid (a hub entity) at
    * runtime. */
  def kgMetapaths(s: SparkSession, dir: String): DataFrame =
    kgMetapathsOf(kgTypedTriples(s, dir))

  def kgMetapathsOf(t: DataFrame): DataFrame = {
    val e = t.select(col("subj"), col("pred"), col("obj")).distinct()
    val a = e.select(col("pred").as("pred_a"), col("obj").as("mid"),
      col("subj").as("s"))
    val b = e.select(col("pred").as("pred_b"), col("subj").as("mid"),
      col("obj").as("o"))
    a.join(b, "mid").groupBy(col("pred_a"), col("pred_b"))
      .agg(count(lit(1)).as("n_paths"), countDistinct(col("mid")).as("n_mid"))
  }

  /** Support threshold for the SHIPPED KG, in permille of the strongest
    * same-predicate edge: an edge ships iff n_docs·1000 ≥ keep‰·max(n_docs
    * over its predicate). KG construction always confidence-filters before
    * shipping (the reference keeps only positively-predicted pairs —
    * F6/F7); under the resulting THRESHOLDED closed-world assumption, a
    * corruption landing on a below-threshold (noise-level) edge is a
    * genuine negative. 970 splits every predicate's edges at both test
    * scales. */
  val kgShipPermille: Int = 970

  /** The SHIPPED edge set: typed rollup filtered to edges within
    * [[kgShipPermille]] of their predicate's strongest edge. Per-pred max
    * is a map-side-combinable agg over the rollup (|preds| rows,
    * broadcast back) — no window, scale-clean at a billion edges. */
  def kgShippedEdgesOf(t: DataFrame, keepPermille: Int = kgShipPermille): DataFrame = {
    // the rollup feeds both the per-pred max and the threshold filter —
    // checkpoint it once (at scale: a million-edge table, not the stream)
    val roll = kgRollupOf(t).localCheckpoint()
    val pmax = roll.groupBy(col("pred")).agg(max(col("n_docs")).as("pmax"))
    roll.join(broadcast(pmax), "pred")
      .filter(col("n_docs") * lit(1000L) >= lit(keepPermille.toLong) * col("pmax"))
      .select(col("subj"), col("pred"), col("obj"), col("n_docs"),
        col("first_doc"))
  }

  /** NEGATIVE SAMPLING for KG-embedding training over the SHIPPED
    * (support-thresholded, [[kgShippedEdgesOf]]) graph: each shipped edge
    * yields one corrupted-object candidate picked by a deterministic LCG
    * over the edge's provenance ints (portable integer arithmetic — the
    * stratified-sampling coin applied to corruption), then candidates that
    * collide with a SHIPPED edge are anti-joined away — checked under the
    * CANONICAL pair orientation (dictionary rank order), because the edge
    * table stores unordered co-occurrences canonically and a "negative"
    * that is the flip of a positive is still a positive. Corruptions onto
    * below-threshold edges survive: under the thresholded closed-world
    * assumption those pairs are noise, not facts. Per-row arithmetic + one
    * anti-join co-partitioned on the edge key: at a billion edges this is
    * a single shuffle, and the candidate set never exceeds the shipped
    * edge set (1 candidate per edge). */
  def kgNegatives(s: SparkSession, dir: String): DataFrame =
    kgNegativesOf(kgTypedTriples(s, dir))

  def kgNegativesOf(t: DataFrame, keepPermille: Int = kgShipPermille): DataFrame = {
    // candidate side AND anti-join truth side both read the shipped set —
    // checkpoint it once so the extraction → rollup → threshold pipeline
    // runs once, not twice
    val shipped = kgShippedEdgesOf(t, keepPermille).localCheckpoint()
    val idx = ((col("first_doc") * lit(1103515245L) + col("n_docs") * lit(12345L)
      + lit(7L)) % lit(2147483647L)) % lit(kgDictWords.length.toLong)
    val negObj = kgDictWords.zipWithIndex.tail.foldLeft(
      when(idx === 0, kgDictWords.head)) {
      case (acc, (w, i)) => acc.when(idx === i, w)
    }
    def rank(c: Column): Column =
      kgDictWords.zipWithIndex.tail.foldLeft(
        when(c === kgDictWords.head, 0)) {
        case (acc, (w, i)) => acc.when(c === w, i)
      }
    val cand = shipped.withColumn("neg_obj", negObj)
      .filter(col("neg_obj") =!= col("subj") && col("neg_obj") =!= col("obj"))
      .withColumn("can_s",
        when(rank(col("subj")) < rank(col("neg_obj")), col("subj"))
          .otherwise(col("neg_obj")))
      .withColumn("can_o",
        when(rank(col("subj")) < rank(col("neg_obj")), col("neg_obj"))
          .otherwise(col("subj")))
    val truth = shipped.select(col("subj").as("can_s"), col("pred"),
      col("obj").as("can_o"))
    cand.join(truth, Seq("can_s", "pred", "can_o"), "left_anti")
      .select(col("subj"), col("pred"), col("obj"), col("neg_obj"))
  }

  /** BOUNDED PROVENANCE: k deterministic exemplar supporting documents
    * per KG edge — `first_doc` generalized to a k-row audit slice (the
    * spot-check sample a KG reviewer pulls per edge). A per-edge
    * `collect_list(doc_id)` would be unbounded on hub edges; instead this
    * reuses the exact-k machinery ([[graft.operators.Sampling.stratifiedExactK]]
    * with the edge as the stratum): per-edge hash thresholds prefilter to
    * O(k) survivors, the completeness check reruns only provably-short
    * edges, and the ranking window never sees a hot edge's full document
    * stream. The pipe join key is injective — the lexicon is pipe-free
    * lowercase ASCII. */
  def kgProvenance(s: SparkSession, dir: String): DataFrame = {
    val keyed = kgTriples(s, dir)
      .withColumn("edge", concat_ws("|", col("subj"), col("pred"), col("obj")))
    val sampled = operators.Sampling.stratifiedExactK(
      keyed, col("doc_id"), col("edge"), k = 3)
    sampled.select(
      split(col("stratum"), "\\|").getItem(0).as("subj"),
      split(col("stratum"), "\\|").getItem(1).as("pred"),
      split(col("stratum"), "\\|").getItem(2).as("obj"),
      col("doc_id"), col("rn"))
  }

  /** HORN RULE MINING over the typed KG (AnyBURL/AMIE-style, closed-world
    * confidence): for every rule body p_a(x,m) ∧ p_b(m,y) and head
    * p_h(x,y), the distinct GROUNDING pairs (x,y) the body reaches,
    * how many of them the head edge closes, and the integer confidence
    * n_closed·1000 div n_pairs. Because extraction emits edges in
    * dictionary-rank order (subj < obj), every body grounding satisfies
    * rank(x) < rank(m) < rank(y), so (x,y) is already canonical and the
    * head probe is a plain equi-join — no reorientation step. Only rules
    * with ≥ 1 closed grounding are emitted (an open rule has no head to
    * name). All joins run on the DISTINCT edge set — the rolled-up graph,
    * not the extraction stream; the grounding distinct is the same
    * mid-keyed self-join as [[kgMetapaths]], AQE-splittable on hub mids. */
  /** SPARQL-style BASIC GRAPH PATTERN query over the constructed typed KG
    * — the consumer-side query surface: find every (x, m, y) where x
    * `filter`s some m, m `group`s y, and x also `scan`s y (a closed
    * length-2 path — the declarative twin of the [[kgRulesOf]] grounding
    * join, expressed as a pattern instead of mined). Compiled by
    * [[graft.graph.BgpMatcher.matchBgp]] into three constant-predicate
    * scans chained by equi-joins on the shared variables; evaluated over
    * the DISTINCT edge set (SPARQL set semantics). */
  def kgBgp(s: SparkSession, dir: String): DataFrame = {
    import graph.BgpMatcher.{C, TriplePattern, V}
    // each pattern scans the edge relation once — checkpoint the distinct
    // edge set so a k-pattern BGP costs ONE extraction pass, not k
    val e = kgTypedTriples(s, dir)
      .select(col("subj"), col("pred"), col("obj")).distinct()
      .localCheckpoint()
    graph.BgpMatcher.matchBgp(e, Seq(
      TriplePattern(V("x"), C("filter"), V("m")),
      TriplePattern(V("m"), C("group"), V("y")),
      TriplePattern(V("x"), C("scan"), V("y"))))
  }

  /** BGP with an OPTIONAL group: every `filter` edge (?x, ?m), left-
    * joined with ?m's outgoing `merge` edge when one exists (SPARQL
    * `OPTIONAL { ?m merge ?z }` — ?z NULL otherwise). The left-join
    * compiler path of [[graft.graph.BgpMatcher.matchBgp]]. */
  def kgBgpOptional(s: SparkSession, dir: String): DataFrame = {
    import graph.BgpMatcher.{C, TriplePattern, V}
    val e = kgTypedTriples(s, dir)
      .select(col("subj"), col("pred"), col("obj")).distinct()
      .localCheckpoint() // two patterns, one extraction pass (see kgBgp)
    graph.BgpMatcher.matchBgp(e,
      Seq(TriplePattern(V("x"), C("filter"), V("m"))),
      optionals = Seq(TriplePattern(V("m"), C("merge"), V("z"))))
  }

  /** BGP with a solution-level FILTER: every x that `filter`s some m and
    * `scan`s some y, keeping only bindings where m ≠ y — the inequality
    * constraint form (SPARQL `FILTER(?m != ?y)`). The compiler pushes
    * the filter to the join that binds its second variable, so the
    * pruning happens before any downstream exchange
    * ([[graft.graph.BgpMatcher.matchBgp]] earliest-placement rewrite). */
  def kgBgpFilter(s: SparkSession, dir: String): DataFrame = {
    import graph.BgpMatcher.{C, TriplePattern, V}
    val e = kgTypedTriples(s, dir)
      .select(col("subj"), col("pred"), col("obj")).distinct()
      .localCheckpoint() // two patterns, one extraction pass (see kgBgp)
    graph.BgpMatcher.matchBgp(e, Seq(
        TriplePattern(V("x"), C("filter"), V("m")),
        TriplePattern(V("x"), C("scan"), V("y"))),
      filters = Seq(col("m") =!= col("y")))
  }

  /** BGP UNION: direct `merge` edges (?x merge ?y) unioned with 2-hop
    * filter→scan chains (?x filter ?m . ?m scan ?y) — the SPARQL
    * alternation form; ?m is unbound (NULL) in the first branch
    * ([[graft.graph.BgpMatcher.matchBgpUnion]], bag semantics — the
    * branches here are disjoint by construction, so the bag is the
    * set). */
  def kgBgpUnion(s: SparkSession, dir: String): DataFrame = {
    import graph.BgpMatcher.{Bgp, C, TriplePattern, V}
    val e = kgTypedTriples(s, dir)
      .select(col("subj"), col("pred"), col("obj")).distinct()
      .localCheckpoint() // three patterns, one extraction pass (see kgBgp)
    graph.BgpMatcher.matchBgpUnion(e, Seq(
      Bgp(Seq(TriplePattern(V("x"), C("merge"), V("y")))),
      Bgp(Seq(TriplePattern(V("x"), C("filter"), V("m")),
        TriplePattern(V("m"), C("scan"), V("y"))))))
  }

  /** SPARQL `MINUS` over the typed KG: filter-pairs that have NO scan
    * edge between the same endpoints — solution-level subtraction
    * ([[graft.graph.BgpMatcher.matchBgpMinus]]), the algebra form
    * negation-as-failure queries take ("entities related by p but not by
    * q" — a KG-quality probe for missing inverse/parallel assertions).
    * Runs over the [[edgeSplitCode]] training split for the same reason
    * [[kgRuleInfer]] does: the saturated closed-vocabulary KG asserts
    * every valid edge, so a full-graph MINUS is vacuously empty; the
    * split leaves real survivors. */
  def kgBgpMinus(s: SparkSession, dir: String): DataFrame = {
    import graph.BgpMatcher.{Bgp, C, TriplePattern, V}
    val e = kgTypedTriples(s, dir)
      .select(col("subj"), col("pred"), col("obj")).distinct()
      .filter(edgeSplitCode % 4 =!= 3)
      .localCheckpoint() // both groups read the derived edge set
    graph.BgpMatcher.matchBgpMinus(e,
      required = Bgp(Seq(TriplePattern(V("x"), C("filter"), V("m")))),
      minus = Bgp(Seq(TriplePattern(V("x"), C("scan"), V("m")))))
  }

  /** SPARQL `VALUES` over the typed KG: the filter-pattern solutions
    * joined with an inline binding table that both RESTRICTS ?x to a
    * pinned entity list and EXTENDS each solution with a payload column
    * (the parameterized-query surface —
    * [[graft.graph.BgpMatcher.withValues]]). */
  def kgBgpValues(s: SparkSession, dir: String): DataFrame = {
    import graph.BgpMatcher.{C, TriplePattern, V}
    import s.implicits._
    val e = kgTypedTriples(s, dir)
      .select(col("subj"), col("pred"), col("obj")).distinct()
    val sols = graph.BgpMatcher.matchBgp(e,
      Seq(TriplePattern(V("x"), C("filter"), V("m"))))
    val vals = Seq(("customer", "alpha"), ("part", "alpha"),
      ("vector", "beta")).toDF("x", "grp")
    graph.BgpMatcher.withValues(sols, vals)
  }

  /** SPARQL property-path `filter+` over the typed KG: all entity pairs
    * connected by a directed chain of `filter` edges, with minimum hop
    * count ([[graft.graph.GraphOps.transitiveClosure]] — semi-naive
    * frontier iteration; the oracle is the naive depth-capped recursive
    * CTE, so the hash match proves the pruning lossless). Extraction
    * orients every edge dictionary-rank-ascending, so the `filter`
    * subgraph is a DAG and depth 4 (= |dict| - 1) closes it exactly. */
  def kgPathClosure(s: SparkSession, dir: String): DataFrame = {
    val e = kgTypedTriples(s, dir).filter(col("pred") === "filter")
      .select(col("subj").as("src"), col("obj").as("dst"))
    graph.GraphOps.transitiveClosure(e, maxDepth = 4)
  }

  /** Literal subclass hierarchy over the entity types — the ontology
    * side-input RDFS materialization consumes ([[kgInferredTypes]]):
    * biz/data ⊑ asset ⊑ resource. */
  val kgSubclassEdges: Seq[(String, String)] = Seq(
    "biz" -> "asset", "data" -> "asset", "asset" -> "resource")

  /** RDFS-style TYPE MATERIALIZATION over the constructed KG: every
    * entity with its direct dictionary type (hops = 0) plus every
    * supertype implied by the subclass hierarchy (rdfs:subClassOf
    * transitivity + rdf:type inheritance — RDF Schema §9.2.1 rules
    * rdfs9/rdfs11), hops = subclass distance. The hierarchy closure runs
    * [[graft.graph.GraphOps.transitiveClosure]] over the LITERAL subclass
    * edges (ontologies are small — the closure broadcasts), so the big
    * side is one entity scan + one broadcast join: the standard shape for
    * reasoning over a billion-entity KG with a thousand-class ontology. */
  def kgInferredTypes(s: SparkSession, dir: String): DataFrame =
    kgInferredTypesOf(kgTypedTriples(s, dir))

  def kgInferredTypesOf(t: DataFrame): DataFrame = {
    val s = t.sparkSession
    import s.implicits._
    // both endpoints in ONE extraction scan (a union of two projections
    // would scan the stream twice)
    val ents = t.select(explode(array(col("subj"), col("obj")))
      .as("entity")).distinct()
    val direct = ents
      .withColumn("rdf_type", entityTypeCol(col("entity")))
      .withColumn("hops", lit(0))
    val closure = graph.GraphOps.transitiveClosure(
      kgSubclassEdges.toDF("src", "dst"), maxDepth = 4)
    val inferred = direct.join(broadcast(closure),
        direct("rdf_type") === closure("src"))
      .select(col("entity"), closure("dst").as("rdf_type"),
        closure("dist").as("hops"))
    direct.unionByName(inferred)
  }

  /** RULE APPLICATION (KG completion): materialize the edges the mined
    * Horn rule { ?x filter ?m . ?m group ?y } ⇒ { ?x scan ?y } predicts
    * but the extraction has not observed
    * ([[graft.graph.BgpMatcher.construct]] — SPARQL CONSTRUCT with the
    * newOnly anti-join; the body is the same grounding join [[kgRules]]
    * counts, so this entry is the miner's downstream consumer: mined
    * rule in, inferred edge candidates out). Production picks rule
    * (body, head) pairs from kgRules above a confidence gate; the
    * catalog pins this one rule for determinism. Runs over the
    * [[edgeSplitCode]] 75% training split, NOT the full graph: the
    * word-soup corpus saturates the closed-vocabulary KG, so the
    * full-graph anti-join is vacuously empty (every valid `scan` edge
    * is already asserted) — the split leaves held-out edges for the
    * rule to actually reconstruct, making this entry a non-vacuous
    * demonstration of the CONSTRUCT path. */
  def kgRuleInfer(s: SparkSession, dir: String): DataFrame = {
    import graph.BgpMatcher.{C, TriplePattern, V}
    val e = kgTypedTriples(s, dir)
      .select(col("subj"), col("pred"), col("obj")).distinct()
      .filter(edgeSplitCode % 4 =!= 3)
      .localCheckpoint() // body patterns + the anti-join all read it
    graph.BgpMatcher.construct(e,
      body = Seq(
        TriplePattern(V("x"), C("filter"), V("m")),
        TriplePattern(V("m"), C("group"), V("y"))),
      head = TriplePattern(V("x"), C("scan"), V("y")))
  }

  /** INCREMENTAL RULE-INFERENCE MAINTENANCE — the delta == full theorem
    * applied to reasoning: split [[kgRuleInfer]]'s training graph into an
    * "old" two-quarters and a "delta" quarter ([[edgeSplitCode]]), store
    * yesterday's derived heads (`construct(old, newOnly = false)` — the
    * table a production deployment persists beside the rollup), and
    * maintain the inferred set through
    * [[graft.graph.BgpMatcher.constructDelta]]'s semi-naive expansion —
    * the old graph is never re-ground against itself. The ORACLE is the
    * SAME full-recompute SQL as kg_rule_infer (both run over the %4 ≠ 3
    * training graph), so the driver's hash match proves delta == full by
    * an independent engine — the kg_edge_rollup_delta / keepListDelta
    * protocol extended from aggregation to inference. */
  def kgRuleInferDelta(s: SparkSession, dir: String): DataFrame = {
    import graph.BgpMatcher.{construct, constructDelta, C, TriplePattern, V}
    val e = kgTypedTriples(s, dir)
      .select(col("subj"), col("pred"), col("obj")).distinct()
      .filter(edgeSplitCode % 4 =!= 3)
      .localCheckpoint() // old/delta slices + the anti-join all read it
    val old = e.filter(edgeSplitCode % 4 =!= 2)
    val delta = e.filter(edgeSplitCode % 4 === 2)
    val body = Seq(
      TriplePattern(V("x"), C("filter"), V("m")),
      TriplePattern(V("m"), C("group"), V("y")))
    val head = TriplePattern(V("x"), C("scan"), V("y"))
    // yesterday's stored derivation (the demo recomputes it; production
    // reads the persisted table — see constructDelta's scaladoc)
    val oldDerived = construct(old, body, head, newOnly = false)
      .localCheckpoint()
    constructDelta(old, delta, oldDerived, body, head)
  }

  def kgRules(s: SparkSession, dir: String): DataFrame =
    kgRulesOf(kgTypedTriples(s, dir))

  /** Horn-rule mining WITH INVERSE PREDICATES — the AnyBURL/AMIE "swap"
    * operator: extraction orients every edge dictionary-rank-ascending,
    * so a plain chain join can only ground bodies that traverse both
    * edges in stored orientation — half the schema-level patterns are
    * invisible to it. The standard fix mines over the edge set AUGMENTED
    * with its inversions (`pred^-1` rows with subj/obj swapped), reusing
    * the SAME miner ([[kgRulesOf]] verbatim — the augmentation is data,
    * not code); heads stay the stored orientation (an inverse-head rule
    * is the same rule restated, so those rows are dropped). Rules whose
    * body uses no inverse predicate carry IDENTICAL counts to
    * [[kgRules]] — augmentation only adds rows under new predicate
    * names (spec-asserted). */
  def kgRulesInverseOf(t: DataFrame): DataFrame = {
    val e = t.select(col("subj"), col("pred"), col("obj")).distinct()
    val aug = e.unionByName(e.select(col("obj").as("subj"),
      concat(col("pred"), lit("^-1")).as("pred"), col("subj").as("obj")))
    kgRulesOf(aug).filter(!col("pred_head").endsWith("^-1"))
  }

  def kgRulesInverse(s: SparkSession, dir: String): DataFrame =
    kgRulesInverseOf(kgTypedTriples(s, dir))

  /** Catalog gates for the mined-rule applier: a rule must predict its
    * head for at least half its body groundings over at least 3 of them
    * (the 5-word closed dictionary bounds body support by the 10
    * orientable entity pairs, so support gates here are small-integer —
    * a real KG would gate in the hundreds). Shared by [[kgRuleApply]]
    * and [[kgCompletionEval]] (and mirrored into both oracle queries
    * from these constants). */
  val RuleConfGatePermille = 500
  val RuleMinPairs = 3L

  /** Deterministic 75/25 EDGE-LEVEL split shared by the completion
    * entries: rank code over the closed lexicons (subj·25 + pred·5 +
    * obj — injective on valid triples, pure integer CASE arithmetic so
    * the oracle reproduces it), held out when ≡ 3 (mod 4). An edge
    * split, not a doc split, because the word-soup corpus SATURATES the
    * closed-vocabulary KG (every syntactically valid edge is asserted
    * by some doc in every doc quartile — a doc-level holdout is empty);
    * holding out edges is the standard link-prediction protocol
    * (AMIE / KG-embedding evaluation setting). */
  private def edgeSplitCode: Column = {
    def rank(c: Column, words: Seq[String]): Column =
      words.zipWithIndex.tail.foldLeft(when(c === words.head, 0)) {
        case (acc, (w, i)) => acc.when(c === w, i)
      }
    rank(col("subj"), kgDictWords) * lit(25) +
      rank(col("pred"), kgPredWords) * lit(5) +
      rank(col("obj"), kgDictWords)
  }

  /** MINED-RULE APPLICATION (KG completion, closed loop): mine chain-2
    * Horn rules from the TRAINING split of the typed KG ([[kgRulesOf]]
    * over the [[edgeSplitCode]] 75%), keep those above the confidence/
    * support gates, and apply the WHOLE gated rule set in one pass
    * ([[graft.graph.GraphOps.applyMinedRules]]) — no hand-pinned
    * pattern, in contrast to [[kgRuleInfer]] which demonstrates the
    * single-rule CONSTRUCT form. Output is every edge absent from the
    * training graph that some gated rule predicts, with the best
    * confidence that predicts it ([[kgCompletionEval]] scores exactly
    * this table against the held-out quarter). Production applies the
    * same code path to the full graph — the split exists because the
    * saturated synthetic KG leaves a complete graph nothing to infer. */
  def kgRuleApply(s: SparkSession, dir: String): DataFrame = {
    val train = kgTypedTriples(s, dir)
      .select(col("subj"), col("pred"), col("obj")).distinct()
      .filter(edgeSplitCode % 4 =!= 3)
      .localCheckpoint() // miner, grounding chain and anti-join share it
    graph.GraphOps.applyMinedRules(train, kgRulesOf(train),
      RuleConfGatePermille, RuleMinPairs)
  }

  /** KG-COMPLETION EVALUATION — the measurement a completion system
    * ships with: hold out a deterministic quarter of the distinct edges
    * ([[edgeSplitCode]]), mine rules on the remaining graph, apply them
    * ([[graft.graph.GraphOps.applyMinedRules]], same gates and split as
    * [[kgRuleApply]]), and score the inferred edges against the held-out
    * set — the standard link-prediction protocol for rule miners (AMIE's
    * evaluation setting). One row: inferred/held-out/hit counts plus
    * integer permille precision (hits per inferred edge) and recall
    * (hits per held-out edge — raw recall over ALL held-out edges,
    * including those no chain-2 rule could ever predict, so a floor). */
  def kgCompletionEval(s: SparkSession, dir: String): DataFrame = {
    val full = kgTypedTriples(s, dir)
      .select(col("subj"), col("pred"), col("obj")).distinct()
      .localCheckpoint() // both split halves read it
    val train = full.filter(edgeSplitCode % 4 =!= 3)
    val heldout = full.filter(edgeSplitCode % 4 === 3)
      .localCheckpoint() // read twice: count + hit probe
    val inferred = graph.GraphOps.applyMinedRules(train, kgRulesOf(train),
      RuleConfGatePermille, RuleMinPairs)
      .localCheckpoint() // read twice: count + hit probe
    val hits = inferred.join(heldout, Seq("subj", "pred", "obj"),
      "left_semi")
    val counts = inferred.agg(count(lit(1)).as("n_inferred"))
      .crossJoin(heldout.agg(count(lit(1)).as("n_heldout")))
      .crossJoin(hits.agg(count(lit(1)).as("n_hit")))
    counts.select(col("n_inferred"), col("n_heldout"), col("n_hit"),
      when(col("n_inferred") === 0, lit(0L))
        .otherwise(expr("(n_hit * 1000) div n_inferred"))
        .as("precision_permille"),
      when(col("n_heldout") === 0, lit(0L))
        .otherwise(expr("(n_hit * 1000) div n_heldout"))
        .as("recall_permille"))
  }

  def kgRulesOf(t: DataFrame): DataFrame = {
    val e = t.select(col("subj"), col("pred"), col("obj")).distinct()
    val paths = e.select(col("pred").as("pred_a"), col("subj").as("x"),
        col("obj").as("mid"))
      .join(e.select(col("pred").as("pred_b"), col("subj").as("mid"),
        col("obj").as("y")), "mid")
      .select(col("pred_a"), col("pred_b"), col("x"), col("y")).distinct()
    val nPairs = paths.groupBy(col("pred_a"), col("pred_b"))
      .agg(count(lit(1)).as("n_pairs"))
    val closed = paths.join(
        e.select(col("subj").as("x"), col("pred").as("pred_head"),
          col("obj").as("y")), Seq("x", "y"))
      .groupBy(col("pred_a"), col("pred_b"), col("pred_head"))
      .agg(count(lit(1)).as("n_closed"))
    closed.join(nPairs, Seq("pred_a", "pred_b"))
      .select(col("pred_a"), col("pred_b"), col("pred_head"),
        col("n_pairs"), col("n_closed"),
        expr("(n_closed * 1000) div n_pairs").as("conf_permille"))
  }

  /** SCHEMA-VIOLATION AUDIT: distinct typed edges whose subject or object
    * entity type deviates from the predicate's induced modal domain/range
    * ([[kgPredicateStatsOf]]) — the KG-quality check run before a graph
    * ships (type-constraint validation, the consumer of schema induction).
    * The |preds|-row stats table broadcasts; the audit is one per-row
    * filter over the edge set. Emits only violating edges, with integer
    * flags for which side deviates. */
  def kgSchemaViolations(s: SparkSession, dir: String): DataFrame =
    kgSchemaViolationsOf(kgTypedTriples(s, dir))

  def kgSchemaViolationsOf(t: DataFrame): DataFrame = {
    // ONE extraction scan: the checkpointed typed edge set feeds both the
    // modal-type induction and the audit filter ([[modalTypeOf]] is the
    // same argmax kgPredicateStatsOf uses, so the two cannot drift;
    // the full stats rollup is not needed here — only domain/range)
    val et = typedEdgeSetOf(t)
    val stats = modalTypeOf(et, "stype", "domain_type")
      .join(modalTypeOf(et, "otype", "range_type"), "pred")
    et.join(broadcast(stats), "pred")
      .filter(col("stype") =!= col("domain_type") ||
        col("otype") =!= col("range_type"))
      .select(col("subj"), col("pred"), col("obj"), col("stype"),
        col("otype"), col("domain_type"), col("range_type"),
        (col("stype") =!= col("domain_type")).cast("int").as("domain_viol"),
        (col("otype") =!= col("range_type")).cast("int").as("range_viol"))
  }

  /** EDGE-LEVEL SNAPSHOT DIFF: the audit report between two corpus
    * snapshots — which KG edges appeared, vanished, or changed support.
    * The halves (doc_id parity) stand in for two snapshot corpora; a
    * production deployment diffs two STORED rollup versions
    * ([[graft.sources.KgRollupStore]]) so neither corpus is re-extracted
    * — the diff itself is this full-outer join on the edge key, a single
    * co-partitioned shuffle over the two million-edge tables (never the
    * extraction streams). Support counts null-coalesce to 0 so
    * added/removed edges carry exact deltas. */
  def kgEdgeDiff(s: SparkSession, dir: String): DataFrame = {
    val d = table(s, dir, "documents")
    def rollup(half: DataFrame) = kgRollupOf(kgTriplesOf(half))
      .select(col("subj"), col("pred"), col("obj"), col("n_docs"))
    val old = rollup(d.filter(col("doc_id") % 2 === 0))
      .withColumnRenamed("n_docs", "n_docs_old")
    val nw = rollup(d.filter(col("doc_id") % 2 === 1))
      .withColumnRenamed("n_docs", "n_docs_new")
    old.join(nw, Seq("subj", "pred", "obj"), "full_outer")
      .select(col("subj"), col("pred"), col("obj"),
        coalesce(col("n_docs_old"), lit(0L)).as("n_docs_old"),
        coalesce(col("n_docs_new"), lit(0L)).as("n_docs_new"))
      .withColumn("delta", col("n_docs_new") - col("n_docs_old"))
      .withColumn("status",
        when(col("n_docs_old") === 0, "added")
          .when(col("n_docs_new") === 0, "removed")
          .when(col("delta") =!= 0, "changed")
          .otherwise("same"))
  }

  /** N-TRIPLES EXPORT of the KG edge rollup — the RDF sink a constructed
    * graph ships as (S5's TSV sink in the interchange format downstream
    * triple stores load): one IRI statement line per edge plus a
    * provenance statement carrying the supporting-document count as a
    * typed integer literal. Pure per-row string formatting over the
    * rollup — zero shuffle beyond the rollup itself; the lexicon is
    * IRI-safe by construction (lowercase ASCII), documented in lieu of
    * percent-encoding. */
  def kgNtriples(s: SparkSession, dir: String): DataFrame =
    kgEdgeRollup(s, dir).select(
      col("subj"), col("pred"), col("obj"), col("n_docs"),
      concat(lit("<urn:graft:e:"), col("subj"),
        lit("> <urn:graft:p:"), col("pred"),
        lit("> <urn:graft:e:"), col("obj"), lit("> .")).as("stmt"),
      concat(lit("<urn:graft:x:"), col("subj"), lit(":"), col("pred"),
        lit(":"), col("obj"),
        lit("> <urn:graft:p:n_docs> \""), col("n_docs").cast("string"),
        lit("\"^^<http://www.w3.org/2001/XMLSchema#integer> ."))
        .as("prov"))
}
