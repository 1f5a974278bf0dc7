package graft.sources

import org.apache.spark.sql.{DataFrame, SparkSession}
import org.apache.spark.sql.functions._

import java.nio.charset.StandardCharsets
import java.nio.file.{Files, Paths}

/** MATERIALIZED KG edge-rollup store — the production form of
  * [[graft.Queries.kgEdgeRollupDelta]]'s theorem, and the KG sibling of
  * [[SigStore]]/[[AnnIndex]].
  *
  * The catalog entry proves (by DuckDB hash) that merging yesterday's
  * rollup with today's delta rollup equals the full recompute; what a
  * production deployment additionally needs is yesterday's rollup AS A
  * STORED ARTIFACT, so the daily job touches ONLY the delta documents —
  * the old corpus is never re-extracted, never even readable (the
  * KgRollupStoreSpec deletes it after init and merges anyway). Both
  * rollup aggregates are mergeable states: `n_docs` adds, `first_doc`
  * takes the null-skipping min — the CRDT-style property every
  * incrementally-maintained table in this engine leans on.
  *
  * Input is the DOC-LEVEL triple frame (doc_id, subj, pred, obj) — the
  * store is extraction-agnostic: any per-document extractor
  * ([[graft.Queries.kgTriplesOf]], the full
  * [[graft.KgPipeline]]) feeds the same maintenance contract.
  *
  * Durability: versioned subdirectories (`v0`, `v1`, …) with an ATOMIC
  * meta sidecar as the commit marker. A merge writes the NEXT version
  * completely, then swaps the sidecar — a crash mid-write leaves the
  * store at the old version with the old meta (the half-written dir is
  * invisible and overwritten on retry). Re-merging the SAME delta after
  * a successful commit is a NO-OP: the sidecar records the last batch's
  * content fingerprint, so a resumed orchestrator cannot double-count
  * (the writeResumable idempotence contract, applied to aggregation
  * state instead of rows). Versioning also sidesteps Spark's
  * cannot-overwrite-a-path-being-read rule — the merge reads `vN` while
  * writing `vN+1`.
  */
object KgRollupStore {

  val MetaFile = "_graft_kg_meta.txt"

  final case class Meta(version: Int, batches: Int, rows: Long,
                        corpusXor: Long, lastBatchFp: (Long, Long))

  /** Content fingerprint of a doc-level triple batch: (rows, xor of
    * per-row hashes) — order-independent, overflow-free under ANSI. */
  def batchFingerprint(docTriples: DataFrame): (Long, Long) = {
    val r = docTriples.agg(count(lit(1)),
      bit_xor(xxhash64(col("doc_id"), col("subj"), col("pred"), col("obj")))).head
    (r.getLong(0), if (r.isNullAt(1)) 0L else r.getLong(1))
  }

  private def roll(docTriples: DataFrame): DataFrame = docTriples
    .groupBy(col("subj"), col("pred"), col("obj"))
    .agg(count(lit(1)).as("n_docs"), min(col("doc_id")).as("first_doc"))

  /** Create the store from the initial corpus batch (version 0). */
  def init(docTriples: DataFrame, path: String): Meta = {
    Files.createDirectories(Paths.get(path))
    val fp = batchFingerprint(docTriples)
    roll(docTriples).repartition(col("subj"))
      .write.mode(org.apache.spark.sql.SaveMode.Overwrite).parquet(s"$path/v0")
    val rows = docTriples.sparkSession.read.parquet(s"$path/v0").count()
    val meta = Meta(0, 1, rows, fp._2, fp)
    writeMeta(path, meta)
    meta
  }

  /** Current rollup table (the committed version's parquet). */
  def read(spark: SparkSession, path: String): DataFrame =
    spark.read.parquet(s"$path/v${readMeta(path).version}")

  /** Merge a delta batch into the store: roll the delta, full-outer merge
    * on the edge key with the STORED rollup (counts add, provenance takes
    * the min — at scale both sides arrive pre-aggregated and co-partition
    * on the key), write the next version, commit atomically. Re-merging
    * the batch that is already the last committed one is a no-op. */
  def merge(deltaDocTriples: DataFrame, path: String): Meta = {
    val spark = deltaDocTriples.sparkSession
    val meta = readMeta(path)
    val fp = batchFingerprint(deltaDocTriples)
    if (fp == meta.lastBatchFp) return meta // resume: already committed
    val old = spark.read.parquet(s"$path/v${meta.version}")
    val merged = old.as("o")
      .join(roll(deltaDocTriples).as("n"), Seq("subj", "pred", "obj"), "full_outer")
      .select(col("subj"), col("pred"), col("obj"),
        (coalesce(col("o.n_docs"), lit(0L))
          + coalesce(col("n.n_docs"), lit(0L))).as("n_docs"),
        least(col("o.first_doc"), col("n.first_doc")).as("first_doc"))
    val next = meta.version + 1
    merged.repartition(col("subj"))
      .write.mode(org.apache.spark.sql.SaveMode.Overwrite).parquet(s"$path/v$next")
    val rows = spark.read.parquet(s"$path/v$next").count()
    val out = Meta(next, meta.batches + 1, rows,
      meta.corpusXor ^ fp._2, fp)
    writeMeta(path, out) // the commit point
    out
  }

  def readMeta(path: String): Meta = {
    val f = Files.readAllLines(Paths.get(path, MetaFile),
      StandardCharsets.UTF_8).get(0).split(' ')
    Meta(f(0).toInt, f(1).toInt, f(2).toLong, f(3).toLong,
      (f(4).toLong, f(5).toLong))
  }

  /** The sidecar is the commit point ([[Sidecar.commit]]: atomic). */
  private def writeMeta(path: String, m: Meta): Unit = {
    val body = s"${m.version} ${m.batches} ${m.rows} ${m.corpusXor} " +
      s"${m.lastBatchFp._1} ${m.lastBatchFp._2}\n"
    Sidecar.commit(path, MetaFile, body)
  }
}

/** Production KG-rollup maintenance main:
  * {{{
  *   runMain graft.sources.KgRollupJob init  <docsParquet>  <storeDir>
  *   runMain graft.sources.KgRollupJob merge <deltaParquet> <storeDir>
  * }}}
  * Documents are (doc_id, text) parquet; extraction is the catalog's
  * single-scan [[graft.Queries.kgTriplesOf]]. Prints one summary line
  * (version, batches, rollup rows). Sessions come from
  * [[graft.GraftSession.production]] — default split sizes, AQE on. */
object KgRollupJob {
  def main(args: Array[String]): Unit = {
    require(args.length == 3 && Set("init", "merge").contains(args(0)),
      "usage: KgRollupJob init|merge <docsParquet> <storeDir>")
    val Array(mode, docsPath, storeDir) = args
    val spark = graft.GraftSession.production(
      sys.env.getOrElse("SPARK_GRAFT_CPUS", "8"), "graft-kg-rollup")
    spark.sparkContext.setLogLevel("WARN")
    val triples = graft.Queries.kgTriplesOf(spark.read.parquet(docsPath))
    val meta =
      if (mode == "init") KgRollupStore.init(triples, storeDir)
      else KgRollupStore.merge(triples, storeDir)
    println(s"KGROLLUP version=${meta.version} batches=${meta.batches} " +
      s"rows=${meta.rows}")
    spark.stop()
  }
}
