package graft

import graft.core._
import graft.materialize.GraphMaterializer
import graft.score.LexiconScorer
import org.apache.spark.sql.{DataFrame, SparkSession}
import org.apache.spark.sql.functions.col

/** Production job entry point (spark-submit shape):
  *
  *   spark-submit --class graft.RunJob engine.jar \
  *     <docsParquet> <dict> <outDir> [nBuckets]
  *
  * `dict` is either a parquet path with (surface, norm_id, tag) rows and an
  * optional sibling `<dict>_equiv` table of (src, dst) edges, or
  * `synthetic:<nEntities>` for the seeded synthetic dictionary. An absent
  * `<dict>_equiv` means no canonicalization; one that is present but
  * unreadable, or lacks the (src, dst) columns, fails the job.
  *
  * Writes (all Iceberg-shaped bucketed parquet with lineage — re-running
  * after a crash resumes exactly at the incomplete buckets):
  *   <outDir>/triples   <outDir>/nodes   <outDir>/triggers
  *   <outDir>/quarantine (plain)  and prints one metrics JSON line.
  */
object RunJob {

  def run(spark: SparkSession, docsPath: String, dictSpec: String,
          outDir: String, nBuckets: Int): Map[String, Long] = {
    implicit val s: SparkSession = spark
    import spark.implicits._

    val docs = spark.read.parquet(docsPath).as[Doc]
    val (dict, edges) =
      if (dictSpec.startsWith("synthetic:")) {
        val p = CorpusGen.Params(nDocs = 0,
          nEntities = dictSpec.stripPrefix("synthetic:").toInt)
        (CorpusGen.dictionary(p), spark.createDataset(CorpusGen.equivEdges(p)))
      } else {
        val d = spark.read.parquet(dictSpec).as[DictEntry].collect().toSeq
        val equiv = new org.apache.hadoop.fs.Path(s"${dictSpec}_equiv")
        val present = equiv.getFileSystem(spark.sparkContext.hadoopConfiguration).exists(equiv)
        (d, if (present) spark.read.parquet(equiv.toString).as[EquivEdge]
            else spark.emptyDataset[EquivEdge])
      }

    // all three output families are written — persist the fused pass so
    // they share one corpus scan
    val out = KgPipeline.run(docs, dict, edges, LexiconScorer.default,
      persistPass = true)
    val wroteTriples = GraphMaterializer.writeResumable(
      spark, out.triples.toDF(), s"$outDir/triples", nBuckets)
    val wroteNodes = GraphMaterializer.writeResumable(
      spark, out.nodes, s"$outDir/nodes", nBuckets, key = "node_id")
    val wroteTriggers = GraphMaterializer.writeResumable(
      spark, out.triggers.toDF(), s"$outDir/triggers", nBuckets)
    out.quarantine.toDF().write.mode("overwrite").parquet(s"$outDir/quarantine")

    // metrics from the LINEAGE aggregates — three tiny metadata reads, not
    // three post-write full scans of the freshly written tables
    Map(
      "triples" -> GraphMaterializer.lineageRowCount(spark, s"$outDir/triples"),
      "nodes" -> GraphMaterializer.lineageRowCount(spark, s"$outDir/nodes"),
      "triggers" -> GraphMaterializer.lineageRowCount(spark, s"$outDir/triggers"),
      "quarantined" -> out.quarantine.count(),
      "buckets_written_triples" -> wroteTriples,
      "buckets_written_nodes" -> wroteNodes,
      "buckets_written_triggers" -> wroteTriggers)
  }

  def main(args: Array[String]): Unit = {
    require(args.length >= 3, "usage: RunJob <docsParquet> <dict|synthetic:N> <outDir> [nBuckets]")
    val nBuckets = if (args.length > 3) args(3).toInt else 32
    val cpus = sys.env.getOrElse("SPARK_GRAFT_CPUS", "32")
    // PRODUCTION session: default 128 MB scan splits — the bench's 1 MB
    // override would plan ~10^8 scan tasks at 100 TB (GraftSession doc)
    val spark = GraftSession.production(cpus, "graft-runjob")
    spark.sparkContext.setLogLevel("WARN")
    val counts = run(spark, args(0), args(1), args(2), nBuckets)
    println(counts.toSeq.sortBy(_._1)
      .map { case (k, v) => s""""$k":$v""" }.mkString("{", ",", "}"))
    spark.stop()
  }
}

/** Production CURATION job entry point (spark-submit shape):
  *
  *   spark-submit --class graft.CurationJob engine.jar \
  *     <docsParquet> <outDir> [nBuckets] [eval=<parquet>] [k=v ...]
  *
  * Materializes the curation deliverables over a (doc_id, text, ...)
  * corpus table, Iceberg-shaped resumable bucketed parquet like RunJob —
  * re-running after a crash resumes exactly at the incomplete buckets:
  *   <outDir>/keep_list  (doc_id, keep_id)          — the dedup table
  *   <outDir>/signatures (doc_id, h0..h15)          — the minhash store
  *                        tomorrow's delta reads instead of re-shingling
  *                        this corpus (SigStore; atomic fingerprinted meta)
  *   <outDir>/packed     (doc_id, stratum, n_tokens, start_offset, bin)
  *                        — the curation pipeline's output
  *   <outDir>/stats      (per-(lang, source) rollup, plain overwrite —
  *                        a ~|sources|×|langs| reporting table)
  * and prints one metrics JSON line (row counts from lineage aggregates,
  * no post-write re-reads).
  *
  * Decontamination runs ONLY against an EXTERNAL eval table
  * (`eval=<parquet>` with (doc_id, text) rows); without one the stage is
  * skipped — a production corpus is never decontaminated against a slice
  * of itself. Every [[CurationConfig]] gate/rate is threadable as a
  * `k=v` arg (e.g. `minWords=100 longPermille=500 lineDedupMinDocs=2
  * fullGopher=true redactPii=true minClassifierLogit=0`). */
object CurationJob {

  /** `k=v` command-line overrides → CurationConfig. */
  def parseConfig(kvs: Seq[String],
                  base: CurationConfig = CurationConfig()): CurationConfig =
    kvs.foldLeft(base) { (c, kv) =>
      kv.split("=", 2) match {
        case Array("minSharedPct", v) => c.copy(minSharedPct = v.toInt)
        case Array("decontamShingleN", v) => c.copy(decontamShingleN = v.toInt)
        case Array("minWords", v) => c.copy(minWords = v.toInt)
        case Array("maxWords", v) => c.copy(maxWords = v.toInt)
        case Array("minMeanWordLen", v) => c.copy(minMeanWordLen = v.toDouble)
        case Array("maxMeanWordLen", v) => c.copy(maxMeanWordLen = v.toDouble)
        case Array("fullGopher", v) => c.copy(fullGopher = v.toBoolean)
        case Array("maxBigramDupFrac", "none") => c.copy(maxBigramDupFrac = None)
        case Array("maxBigramDupFrac", v) =>
          c.copy(maxBigramDupFrac = Some(v.toDouble))
        case Array("lineDedupMinDocs", "none") => c.copy(lineDedupMinDocs = None)
        case Array("lineDedupMinDocs", v) =>
          c.copy(lineDedupMinDocs = Some(v.toLong))
        case Array("shortBandWords", v) => c.copy(shortBandWords = v.toInt)
        case Array("shortPermille", v) => c.copy(shortPermille = v.toInt)
        case Array("longPermille", v) => c.copy(longPermille = v.toInt)
        case Array("seqLen", v) => c.copy(seqLen = v.toInt)
        case Array("redactPii", v) => c.copy(redactPii = v.toBoolean)
        case Array("minClassifierLogit", "none") => c.copy(minClassifierLogit = None)
        case Array("minClassifierLogit", v) =>
          c.copy(minClassifierLogit = Some(v.toLong))
        case other => sys.error(s"unknown config arg '${other.mkString("=")}'")
      }
    }

  def run(spark: SparkSession, docsPath: String, outDir: String,
          nBuckets: Int, evalSet: Option[DataFrame] = None,
          config: CurationConfig = CurationConfig()): Map[String, Long] = {
    val raw = spark.read.parquet(docsPath)
    // line-dedup (when configured) REWRITES the corpus before dedup, so
    // the keep-list this job ships is over the same cleaned text the
    // pipeline packs — apply it here and hand the pipeline the result
    val docs = config.lineDedupMinDocs match {
      case Some(m) => graft.operators.Dedup
        .lineDedup(raw.select(col("doc_id"), col("text")), m)
        .select(col("doc_id"), col("clean_text").as("text"))
      case None => raw
    }
    val keep = graft.operators.Dedup.keepList(docs,
      minSharedPct = config.minSharedPct)
    val wroteKeep = GraphMaterializer.writeResumable(
      spark, keep, s"$outDir/keep_list", nBuckets)
    // the signature store rides along with the keep-list: tomorrow's
    // delta run primes its vocab cache from <out>/signatures/_vocab
    // (Dedup.primeVocabCache + SigStore.loadVocab), reads the signatures
    // back (keepListDelta oldSigs) and shingles only the new batch — the
    // vocabulary ships WITH the signatures because the portable hashes
    // are functions of it. forCorpus is resume-safe: a re-run fingerprint-
    // matches (corpus + vocab) and reopens instead of rebuilding.
    graft.sources.SigStore.forCorpus(
      docs.select(col("doc_id"), col("text")), s"$outDir/signatures",
      vocab = graft.operators.Dedup.tokenVocab(
        graft.operators.Dedup.shingleRows(docs, 3)))
    // the pipeline REUSES the keep-list computed above (its CC closure is
    // checkpointed, so `keep` re-evaluates as one cheap join) — without
    // this the job would run the LSH verification + closure twice. Line
    // dedup is disabled inside the pipeline call: `docs` is already clean.
    val packed = Queries.curationPipelineOver(docs, evalSet,
      config.copy(lineDedupMinDocs = None),
      precomputedKeepList = Some(keep))
    val wrotePacked = GraphMaterializer.writeResumable(
      spark, packed, s"$outDir/packed", nBuckets)
    // reporting rollup only when the corpus carries the grouping columns
    if (Seq("lang", "source").forall(raw.columns.contains))
      Queries.corpusStatsOver(raw)
        .write.mode(org.apache.spark.sql.SaveMode.Overwrite)
        .parquet(s"$outDir/stats")
    Map(
      "keep_list" -> GraphMaterializer.lineageRowCount(spark, s"$outDir/keep_list"),
      "packed" -> GraphMaterializer.lineageRowCount(spark, s"$outDir/packed"),
      // row count from the store's meta sidecar — no re-scan of the
      // freshly written table (same policy as the lineage counts above)
      "signatures" -> graft.sources.SigStore
        .storedRows(s"$outDir/signatures").getOrElse(-1L),
      "buckets_written_keep_list" -> wroteKeep,
      "buckets_written_packed" -> wrotePacked)
  }

  def main(args: Array[String]): Unit = {
    require(args.length >= 2,
      "usage: CurationJob <docsParquet> <outDir> [nBuckets] [eval=<parquet>] [k=v ...]")
    // strict trailing-arg parse: at most one positional (numeric nBuckets),
    // everything else must be k=v — a typo like `minWords 100` must FAIL,
    // not silently curate with the default gates
    val (kvArgs, positional) = args.drop(2).partition(_.contains("="))
    val bad = positional.filterNot(a => a.nonEmpty && a.forall(_.isDigit))
    require(bad.isEmpty && positional.length <= 1,
      s"unrecognized arguments: ${(bad ++ positional.drop(1)).mkString(" ")} " +
        "(expected one numeric [nBuckets] and k=v overrides)")
    val nBuckets = positional.headOption.map(_.toInt).getOrElse(32)
    val evalPath = kvArgs.collectFirst { case kv if kv.startsWith("eval=") =>
      kv.stripPrefix("eval=") }
    val config = parseConfig(kvArgs.filterNot(_.startsWith("eval=")).toSeq)
    val spark = GraftSession.production(
      sys.env.getOrElse("SPARK_GRAFT_CPUS", "32"), "graft-curation")
    spark.sparkContext.setLogLevel("WARN")
    val counts = run(spark, args(0), args(1), nBuckets,
      evalPath.map(spark.read.parquet), config)
    println(counts.toSeq.sortBy(_._1)
      .map { case (k, v) => s""""$k":$v""" }.mkString("{", ",", "}"))
    spark.stop()
  }
}

/** Standalone evaluation job: gold vs predicted triple tables → micro
  * P/R/F JSON (evalsorel semantics, SURVEY.md §5.1). */
object Evaluate {
  def main(args: Array[String]): Unit = {
    require(args.length == 2, "usage: Evaluate <goldParquet> <triplesParquet>")
    val spark = GraftSession.production(
      sys.env.getOrElse("SPARK_GRAFT_CPUS", "8"), "graft-evaluate")
    implicit val s: SparkSession = spark
    spark.sparkContext.setLogLevel("WARN")
    val gold: DataFrame = spark.read.parquet(args(0))
    val pred: DataFrame = spark.read.parquet(args(1))
    val r = graft.eval.Evalsorel.evaluate(gold, pred)
    println(f"""{"tp":${r.tp},"fp":${r.fp},"fn":${r.fn},""" +
      f""""precision":${r.precision}%.4f,"recall":${r.recall}%.4f,"f1":${r.f1}%.4f}""")
    spark.stop()
  }
}
