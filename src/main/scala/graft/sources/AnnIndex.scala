package graft.sources

import graft.functions.QuantizedDot.quantized_dot
import graft.operators.SimSearch
import org.apache.spark.sql.{DataFrame, SparkSession}
import org.apache.spark.sql.functions._

import java.nio.charset.StandardCharsets
import java.nio.file.{Files, Paths}
import scala.collection.concurrent.TrieMap

/** MATERIALIZED ANN index over an embeddings table.
  *
  * The single remaining scale-killer in the round-2 ANN operators was
  * query-time indexing: `lshTopK`/`ivfTopK` recomputed the LSH bucket /
  * IVF cell of EVERY corpus vector on every query call (and IVF re-trained
  * its centroids per call). At 100 TB an ANN query must prune on a STORED
  * index column instead. This object writes the embeddings once with the
  * int-LSH `bucket` and integer-IVF `cell` as PARTITION columns of the
  * parquet layout — queries then carry a partition filter, so the scan
  * touches only ~(bits+1)/2^bits (LSH multi-probe) or nProbe/nCells (IVF)
  * of the files; everything else is pruned before any byte is read.
  *
  * Build cost at scale: one extra narrow projection on a write the
  * pipeline performs anyway, plus one bounded 2048-row driver sample for
  * the Lloyd training (an offline step in any IVF system). Centroids are
  * persisted in an underscore-prefixed sidecar (invisible to the parquet
  * reader), so an index can be reopened with `load` and never retrained.
  *
  * Results are bit-identical to the direct single-call operators: the
  * bucket/cell expressions are the same integer arithmetic, evaluated at
  * build time instead of query time.
  */
object AnnIndex {

  val MetaFile = "_graft_ann_meta.txt"

  final case class Handle(spark: SparkSession, path: String, bits: Int,
                          nCells: Int, centroids: Array[Array[Long]]) {

    def table: DataFrame = spark.read.parquet(path)

    /** LSH ANN over the stored `bucket` partition column: Hamming≤1
      * multi-probe, ranked by quantized dot — same semantics and output
      * shape as SimSearch.lshTopK, but the probe is a partition prune. */
    def lshTopK(query: Seq[Float], k: Int): DataFrame = {
      val qBucket = SimSearch.intBucketOf(SimSearch.quantizeQuery(query), bits)
      val probes = (qBucket +: (0 until bits).map(b => qBucket ^ (1L << b)))
        .map(_.toInt) // partition-dir values are type-inferred as INT
      val qArr = array(query.map(v => lit(v.toDouble)): _*)
      table.filter(col("bucket").isin(probes: _*))
        .select(col("vec_id"), quantized_dot(col("embedding"), qArr).as("qdot"))
        .orderBy(col("qdot").desc, col("vec_id"))
        .limit(k)
    }

    /** IVF ANN over the stored `cell` partition column with the persisted
      * centroids — no retraining, no corpus-wide assignment pass. */
    def ivfTopK(query: Seq[Float], k: Int, nProbe: Int = 3): DataFrame = {
      val probes = SimSearch.probeCellsQ(
        SimSearch.quantizeQuery(query), centroids, nProbe)
      SimSearch.rankQuantizedCosine(
        table.filter(col("cell").isin(probes: _*)), query, k)
    }
  }

  /** Build the index: train the quantized coarse quantizer once, compute
    * bucket + cell in one narrow pass, write partitioned by both. The meta
    * sidecar records a content fingerprint (rows + min/max vec_id + a
    * value-sensitive sum) of the source so a reopen detects a regenerated
    * corpus — including a re-embedding that kept the same ids. */
  def build(emb: DataFrame, path: String, bits: Int = 4, nCells: Int = 16): Handle = {
    val spark = emb.sparkSession
    val centroids = SimSearch.trainIvfCentroidsQuantized(emb, nCells)
    val dim = emb.select(size(col("embedding"))).head.getInt(0)
    emb.select(col("vec_id"), col("embedding"))
      .withColumn("bucket", SimSearch.intLshBucket(col("embedding"), dim, bits))
      .withColumn("cell", SimSearch.quantizedCellOf(col("embedding"), centroids))
      .write.mode("overwrite").partitionBy("bucket", "cell").parquet(path)
    writeMeta(path, bits, nCells, fingerprint(emb), centroids)
    Handle(spark, path, bits, nCells, centroids)
  }

  /** Cheap content fingerprint of the source table, one aggregation:
    * (rows, min/max vec_id, XOR of per-row full-vector hashes).
    * The id terms catch added/removed vectors; the CONTENT term catches
    * the common regeneration that keeps ids stable — re-embedding the
    * same documents with a new model — which (rows, min, max) alone
    * would wave through, silently serving obsolete neighbors. The hash
    * covers EVERY dimension and the row's id (xxhash64 of the whole
    * array — an earlier version sampled only dimension 1, waving through
    * regenerations that preserved it, and threw on empty arrays under
    * ANSI element_at); bit_xor combines order-independently and cannot
    * overflow under ANSI (a SUM of hashes throws on long overflow). */
  def fingerprint(emb: DataFrame): (Long, Long, Long, Long) = {
    val r = emb.agg(count(lit(1)), min(col("vec_id")), max(col("vec_id")),
      bit_xor(xxhash64(col("vec_id"), col("embedding")))).head
    (r.getLong(0),
      if (r.isNullAt(1)) 0L else r.getLong(1),
      if (r.isNullAt(2)) 0L else r.getLong(2),
      if (r.isNullAt(3)) 0L else r.getLong(3))
  }

  /** Incrementally add vectors to an existing index: assign bucket + cell
    * with the PERSISTED quantizer (LSH planes are data-independent; IVF
    * centroids stay fixed after build — the standard IVF contract) and
    * append the new partitioned files. Queries see the union immediately;
    * no rebuild, no retraining, no touch of existing files — at 100 TB
    * this is how a daily embedding delta lands. */
  def append(handle: Handle, newEmb: DataFrame): Handle = {
    val dim = newEmb.select(size(col("embedding"))).head.getInt(0)
    newEmb.select(col("vec_id"), col("embedding"))
      .withColumn("bucket", SimSearch.intLshBucket(col("embedding"), dim, handle.bits))
      .withColumn("cell", SimSearch.quantizedCellOf(col("embedding"), handle.centroids))
      .write.mode(org.apache.spark.sql.SaveMode.Append)
      .partitionBy("bucket", "cell").parquet(handle.path)
    handle
  }

  /** Reopen a previously built index without retraining. */
  def load(spark: SparkSession, path: String): Handle = {
    val lines = Files.readAllLines(
      Paths.get(path, MetaFile), StandardCharsets.UTF_8)
    val head = lines.get(0).split(' ')
    val (bits, nCells) = (head(0).toInt, head(1).toInt)
    val centroids = (1 to nCells).map(i =>
      lines.get(i).split(',').map(_.toLong)).toArray
    Handle(spark, path, bits, nCells, centroids)
  }

  /** The stored content fingerprint; None for a pre-fingerprint, empty,
    * or CORRUPT meta (all treated as stale → rebuild — an unreadable
    * sidecar must trigger a rebuild, never a permanent query failure). */
  private def storedFingerprint(path: String): Option[(Long, Long, Long, Long)] =
    scala.util.Try {
      val head = Files.readAllLines(Paths.get(path, MetaFile),
        StandardCharsets.UTF_8).get(0).split(' ')
      (head(2).toLong, head(3).toLong, head(4).toLong, head(5).toLong)
    }.toOption

  /** Meta write is ATOMIC (temp file + rename) — the meta file doubles as
    * the index's commit marker, so a crashed or concurrent build never
    * leaves a readable-but-partial index behind. */
  private def writeMeta(path: String, bits: Int, nCells: Int,
                        fp: (Long, Long, Long, Long),
                        centroids: Array[Array[Long]]): Unit = {
    val body = s"$bits $nCells ${fp._1} ${fp._2} ${fp._3} ${fp._4}\n" +
      centroids.map(_.mkString(",")).mkString("\n") + "\n"
    Sidecar.commit(path, MetaFile, body)
  }

  // Session-scoped build-once registry (same pattern as Dedup.vocabCache):
  // the first catalog query against a corpus builds the index; every later
  // LSH/IVF call — including the other operator and bench re-attempts —
  // reads the stored layout. Handles are keyed by session UUID (a handle
  // never outlives its session; identityHashCode can collide after GC —
  // see Dedup.sessionKey). The DIRECTORY is keyed by an INJECTIVE encoding
  // of the corpus key ('_'-escaped hex for non-alphanumerics — two
  // distinct keys can never share a dir), and a reopen VALIDATES the
  // stored fingerprint against the source table, so a corpus regenerated
  // at the same path triggers a rebuild instead of silently serving stale
  // vectors.
  private val handles = TrieMap.empty[(String, String), Handle]

  def clearHandles(): Unit = handles.clear()

  private[graft] def cachedHandleCount: Int = handles.size

  // same lifecycle layers as Dedup.vocabCache, via the shared helper
  // (handles hold no persisted blocks, so removal is the whole cleanup)
  graft.core.SessionCleanup.registerSweep(() => sweepStoppedEntries())

  private[graft] def sweepStoppedEntries(): Unit =
    handles.foreach { case (k, h) =>
      if (h.spark.sparkContext.isStopped) handles.remove(k)
    }

  /** Injective directory-name encoding: ASCII alphanumerics pass through;
    * every other char becomes '_' + FIXED-WIDTH 4-hex of its UTF-16 unit.
    * '_' itself is escaped and the width is fixed, so the code is
    * prefix-free: a variable-width escape would let two distinct keys
    * share a dir (U+0123 escapes to "_123", colliding with U+0012 then '3'). */
  private[graft] def dirName(key: String, bits: Int, nCells: Int): String =
    "graft_ann_" + key.flatMap(c =>
      if (c.isLetterOrDigit && c < 0x80) c.toString else f"_${c.toInt}%04x") +
      s"_b${bits}c$nCells"

  def forTable(emb: => DataFrame, spark: SparkSession, key: String,
               bits: Int = 4, nCells: Int = 16): Handle = {
    sweepStoppedEntries()
    graft.core.SessionCleanup.hook(spark)
    handles.getOrElseUpdate((graft.operators.Dedup.sessionKey(spark), key), {
      val dir = Paths.get(sys.props("java.io.tmpdir"),
        dirName(key, bits, nCells)).toString
      val e = emb
      if (Files.exists(Paths.get(dir, MetaFile)) &&
          storedFingerprint(dir).contains(fingerprint(e))) load(spark, dir)
      else build(e, dir, bits, nCells)
    })
  }
}
