package graft.operators

import graft.functions.CosineSimilarity.cosine_sim
import graft.functions.QuantizedDot.{quantized_dot, weighted_dot}
import org.apache.spark.sql.{Column, DataFrame}
import org.apache.spark.sql.functions._

/** Similarity search over an embedding column (array<float>).
  *
  * Two tiers, as a 100 TB pipeline needs both:
  *  - brute-force cosine top-k — the exact baseline: one narrow pass
  *    computing the score with a fused codegen'd expression (no UDF), then
  *    a global top-k (sort+limit; Spark plans TakeOrderedAndProject — no
  *    full sort materialization).
  *  - ANN — the scale path: integer random-hyperplane LSH buckets or IVF
  *    cells; the query probes only a few of them, touching a small
  *    fraction of the corpus.
  *
  * The hashing, pairing and ANN operators use one family: ×1000-quantized
  * BIGINT arithmetic, which a SQL oracle verifies bit-exactly (float
  * reductions are order-sensitive; integer math is associative and exact).
  * Floats remain only in `bruteForceTopK` and the float IVF, the recall
  * baselines the specs compare against.
  */
object SimSearch {

  /** Exact cosine top-k against one query vector (broadcast as a literal
    * array — no join at all). Scoring uses the fused native expression
    * (graft.functions.CosineSimilarityExpr): one codegen'd loop per row
    * instead of five interpreted HOF traversals. */
  def bruteForceTopK(emb: DataFrame, query: Seq[Float], k: Int): DataFrame = {
    val q = array(query.map(v => lit(v.toDouble)): _*)
    emb.select(col("vec_id"), cosine_sim(col("embedding"), q).as("score"))
      .orderBy(col("score").desc, col("vec_id"))
      .limit(k)
  }

  /** Integer-quantized dot-product top-k (oracle-verifiable bit-exactly):
    * floor(double(x)·1000) per element, BIGINT accumulate — as ONE fused
    * codegen'd loop (graft.functions.QuantizedDotExpr) instead of the
    * interpreted zip_with/aggregate HOF chain. */
  def quantizedDotTopK(emb: DataFrame, query: Seq[Float], k: Int): DataFrame = {
    val qArr = array(query.map(v => lit(v.toDouble)): _*)
    emb.select(col("vec_id"),
        quantized_dot(col("embedding"), qArr).as("qdot"))
      .orderBy(col("qdot").desc, col("vec_id"))
      .limit(k)
  }

  // ---------- integer-exact (oracle-portable) quantized family ----------
  // ×1000 BIGINT quantization (the simsearch_qdot convention): float→double
  // widen, ×1000, floor — exact and identical in any engine, so dot
  // products, norms and hyperplane signs built from it are bit-portable.
  // Column-side arithmetic runs through graft.functions.QuantizedDotExpr —
  // one fused codegen'd loop per dot, no intermediate arrays.

  /** Quantize a driver-side query vector with the expression's arithmetic. */
  def quantizeQuery(query: Seq[Float]): Array[Long] =
    query.map(v => math.floor(v.toDouble * 1000).toLong).toArray

  /** Deterministic integer hyperplane weight for (plane b, dim i): an LCG
    * over the flattened index, in [-1001, 1001]. Pure integer — the SQL
    * oracle reproduces it exactly. */
  private def planeWgt(b: Int, i: Int): Long =
    java.lang.Math.floorMod(1103515245L * (b * 97L + i + 1) + 12345L, 2003L) - 1001L

  /** Integer LSH bucket of a RAW embedding column: sign bits of the
    * quantized integer plane dots (one fused codegen'd loop per plane via
    * QuantizedDotExpr — the weights ride as an exact integer-valued double
    * literal array with scale 1, so floor is the identity on them),
    * additively combined (distinct powers of two). */
  def intLshBucket(emb: Column, dim: Int, bits: Int): Column = {
    val dots = (0 until bits).map { b =>
      val w = array((0 until dim).map(i => lit(planeWgt(b, i).toDouble)): _*)
      weighted_dot(emb, w)
    }
    dots.zipWithIndex.map { case (d, i) =>
      when(d > 0, lit(1L << i)).otherwise(lit(0L))
    }.reduce(_ + _)
  }

  /** Driver-side twin of intLshBucket for the query vector. */
  def intBucketOf(q: Array[Long], bits: Int): Long =
    (0 until bits).map { b =>
      val d = q.indices.map(i => q(i) * planeWgt(b, i)).sum
      if (d > 0) 1L << b else 0L
    }.sum

  /** ANN via integer hyperplane LSH with Hamming≤1 MULTI-PROBE: the query
    * probes its own bucket plus every one-bit-flip neighbor (bits+1 of the
    * 2^bits buckets). Single-probe silently loses every vector that falls
    * on the far side of one hyperplane from the query — recall collapses as
    * `bits` grows; probing the 1-flip neighborhood is the standard
    * multi-probe fix (Lv et al., VLDB'07). Ranking inside the probed
    * buckets is by quantized dot — bit-exact, so the whole operator is
    * oracle-verifiable.
    *
    * Recall contract (asserted in OperatorsSpec): on clustered embeddings —
    * the regime LSH assumes and real corpora exhibit — recall@20 ≥ 0.9
    * while probing (bits+1)/2^bits of the bucket space. On ISOTROPIC
    * random vectors no sublinear method can beat the fraction-of-corpus-
    * scanned baseline (there is no locality to exploit); there the test
    * asserts recall ≥ 1.5× that baseline, i.e. the bucketing still
    * captures genuine directional signal. */
  def lshTopK(emb: DataFrame, query: Seq[Float], k: Int, bits: Int = 4): DataFrame = {
    val dim = query.length
    val qBucket = intBucketOf(quantizeQuery(query), bits)
    val probes = qBucket +: (0 until bits).map(b => qBucket ^ (1L << b))
    val qArr = array(query.map(v => lit(v.toDouble)): _*)
    emb.select(col("vec_id"), col("embedding"))
      .withColumn("bucket", intLshBucket(col("embedding"), dim, bits))
      .filter(col("bucket").isin(probes: _*))
      .select(col("vec_id"),
        quantized_dot(col("embedding"), qArr).as("qdot"))
      .orderBy(col("qdot").desc, col("vec_id"))
      .limit(k)
  }

  /** Brute-force cosine top-k with a fully PORTABLE ordering: cosine rank
    * against one fixed query equals rank by sign(dot)·dot²/‖v‖² (the query
    * norm is a constant factor), and with ×1000-quantized integers both
    * dot² (≤ ~3e14) and ‖v‖² are exact in a double, so the one IEEE
    * division is bit-identical in any engine. Output columns are the
    * integers themselves — no float crosses the comparison boundary. */
  def quantizedCosineTopK(emb: DataFrame, query: Seq[Float], k: Int): DataFrame =
    rankQuantizedCosine(emb, query, k)

  /** Exact quantized-cosine near-dup PAIRS above τ² = tauNum/tauDen,
    * blocked by the integer LSH bucket (per-bucket self-join only, the
    * embedding analog of MinHash banding). The threshold compare is the
    * integer cross-multiplication tauDen·dot² ≥ tauNum·‖a‖²·‖b‖² (with
    * dot > 0) — no float anywhere, so the DuckDB oracle matches
    * value-for-value. Sizes (dim 64, |x| ≤ ~0.53 → |q| ≤ 530): dot² ≤
    * 3.2e14, ×400 ≈ 1.3e17 and ‖a‖²·‖b‖²·9 ≈ 2.9e15 — BIGINT-safe. */
  def quantizedCosinePairs(emb: DataFrame, tauNum: Long = 9L, tauDen: Long = 400L,
                           bits: Int = 6): DataFrame = {
    val e = emb.select(col("vec_id"), col("embedding"))
    val firstRow = e.select(size(col("embedding"))).head(1)
    if (firstRow.isEmpty) return e.sparkSession.emptyDataFrame
      .select(lit(0L).as("vec_a"), lit(0L).as("vec_b"),
        lit(0L).as("qdot"), lit(0L).as("qna"), lit(0L).as("qnb"))
      .limit(0)
    val dim = firstRow.head.getInt(0)
    val b = e.withColumn("bucket", intLshBucket(col("embedding"), dim, bits))
    b.as("a").join(b.as("b"),
        col("a.bucket") === col("b.bucket") && col("a.vec_id") < col("b.vec_id"))
      .select(col("a.vec_id").as("vec_a"), col("b.vec_id").as("vec_b"),
        quantized_dot(col("a.embedding"), col("b.embedding")).as("qdot"),
        quantized_dot(col("a.embedding"), col("a.embedding")).as("qna"),
        quantized_dot(col("b.embedding"), col("b.embedding")).as("qnb"))
      .filter(col("qdot") > 0 &&
        lit(tauDen) * col("qdot") * col("qdot") >=
          lit(tauNum) * col("qna") * col("qnb"))
  }

  /** IVF (inverted-file) ANN: a coarse quantizer of `nCells` centroids is
    * trained offline (deterministic seeded Lloyd iterations on a driver
    * sample — IVF training is an offline step even at scale); every vector
    * is assigned to its nearest centroid in one narrow pass; a query
    * probes only the `nProbe` nearest cells and runs exact cosine inside
    * them — the corpus fraction touched is ~nProbe/nCells. */
  def trainIvfCentroids(emb: DataFrame, nCells: Int, sampleN: Int = 2048,
                        iters: Int = 5): Array[Array[Double]] = {
    val sample = emb.orderBy(col("vec_id")).limit(sampleN)
      .select(col("embedding")).collect()
      .map(_.getSeq[Float](0).map(_.toDouble).toArray)
    require(sample.nonEmpty, "empty embedding table")
    var centroids = Array.tabulate(nCells)(i => sample(i % sample.length).clone())
    (0 until iters).foreach { _ =>
      val assign = sample.map(v => (nearestCell(v, centroids), v))
      centroids = centroids.indices.map { c =>
        val members = assign.filter(_._1 == c).map(_._2)
        if (members.isEmpty) centroids(c)
        else {
          val dim = members.head.length
          val mean = new Array[Double](dim)
          members.foreach(v => (0 until dim).foreach(i => mean(i) += v(i)))
          (0 until dim).foreach(i => mean(i) /= members.length)
          mean
        }
      }.toArray
    }
    centroids
  }

  private def nearestCell(v: Array[Double], centroids: Array[Array[Double]]): Int = {
    var best = 0; var bestD = Double.MaxValue
    var c = 0
    while (c < centroids.length) {
      var d = 0.0; var i = 0
      while (i < v.length) { val x = v(i) - centroids(c)(i); d += x * x; i += 1 }
      if (d < bestD) { bestD = d; best = c }
      c += 1
    }
    best
  }

  /** Cell assignment as a column expression over the broadcast centroids:
    * argmin over squared distances, built from HOFs (codegen'd). */
  private def cellOf(embDouble: Column, centroids: Array[Array[Double]]): Column = {
    val dists = centroids.map { cvec =>
      aggregate(zip_with(embDouble, array(cvec.map(lit): _*),
        (x, y) => (x - y) * (x - y)), lit(0.0d), (a, v) => a + v)
    }
    // argmin via a struct-min trick: min over (dist, idx) structs
    array_min(array(dists.zipWithIndex.map { case (d, i) =>
      struct(d.as("d"), lit(i).as("i"))
    }: _*)).getField("i")
  }

  /** IVF top-k: probe the query's nProbe nearest cells only. */
  def ivfTopK(emb: DataFrame, query: Seq[Float], k: Int,
              nCells: Int = 16, nProbe: Int = 2): DataFrame = {
    val centroids = trainIvfCentroids(emb, nCells)
    val q = query.map(_.toDouble).toArray
    val probeCells = centroids.indices
      .sortBy { c => centroids(c).zip(q).map { case (a, b) => (a - b) * (a - b) }.sum }
      .take(nProbe).toSet
    val qArr = array(q.map(lit): _*)
    val e = emb.withColumn("cell",
      cellOf(transform(col("embedding"), _.cast("double")), centroids))
    e.filter(col("cell").isin(probeCells.toSeq: _*))
      .select(col("vec_id"), cosine_sim(col("embedding"), qArr).as("score"))
      .orderBy(col("score").desc, col("vec_id"))
      .limit(k)
  }

  // ---------- integer-quantized IVF (oracle-portable) ----------
  // The float IVF above stays as a recall baseline: on the isotropic sf0.01
  // embeddings (16 cells, nProbe 3) its recall@20 is 0.80 and the quantized
  // form's 0.70, so only the float form carries the spec's 0.75 gate there.
  // The quantized family below is bit-portable end to end: ×1000-floor
  // BIGINT vectors, integer squared distances, strict-< argmin (lowest cell
  // wins ties), floorDiv centroid means — every step exact integer
  // arithmetic a SQL engine reproduces, so the WHOLE operator (training
  // included) is oracle-verifiable like the rest of the quantized family.

  /** Integer-quantized Lloyd training. Deterministic: the sample is the
    * first `sampleN` rows by vec_id, init centroid c = sample(c mod n),
    * assignment ties break to the lowest cell, empty cells keep their
    * previous centroid, means are floorDiv (exactly mirrored by
    * floor(sum/count) in SQL — sums of ≤2048 coords ≤~531 are exact in a
    * double). Training stays a bounded offline step at any corpus size
    * (2048-row sample), exactly like production IVF. */
  def trainIvfCentroidsQuantized(emb: DataFrame, nCells: Int, sampleN: Int = 2048,
                                 iters: Int = 5): Array[Array[Long]] = {
    val sample = emb.orderBy(col("vec_id")).limit(sampleN)
      .select(col("embedding")).collect()
      .map(_.getSeq[Float](0).map(f => math.floor(f.toDouble * 1000).toLong).toArray)
    require(sample.nonEmpty, "empty embedding table")
    var centroids = Array.tabulate(nCells)(i => sample(i % sample.length).clone())
    (0 until iters).foreach { _ =>
      val assign = sample.map(v => (nearestCellQ(v, centroids), v))
      centroids = centroids.indices.map { c =>
        val members = assign.collect { case (`c`, v) => v }
        if (members.isEmpty) centroids(c)
        else Array.tabulate(members.head.length)(i =>
          Math.floorDiv(members.iterator.map(_(i)).sum, members.length.toLong))
      }.toArray
    }
    centroids
  }

  /** Integer squared distance argmin; strict < keeps the lowest cell on
    * ties (== ORDER BY dist, cell in the SQL mirror). */
  private def nearestCellQ(v: Array[Long], centroids: Array[Array[Long]]): Int = {
    var best = 0; var bestD = Long.MaxValue
    var c = 0
    while (c < centroids.length) {
      var d = 0L; var i = 0
      while (i < v.length) { val x = v(i) - centroids(c)(i); d += x * x; i += 1 }
      if (d < bestD) { bestD = d; best = c }
      c += 1
    }
    best
  }

  /** Cell assignment as a codegen'd column: argmin_c ‖q(v)−c‖² ≡
    * argmin_c (‖c‖² − 2·q(v)·c) because ‖q(v)‖² is constant per row — one
    * fused weighted_dot per centroid (integer-valued double literals, so
    * floor is the identity), struct-min ties to the lowest cell. */
  def quantizedCellOf(emb: Column, centroids: Array[Array[Long]]): Column = {
    val scores = centroids.map { cvec =>
      val cArr = array(cvec.map(x => lit(x.toDouble)): _*)
      lit(cvec.map(x => x * x).sum) - lit(2L) * weighted_dot(emb, cArr)
    }
    array_min(array(scores.zipWithIndex.map { case (s0, i) =>
      struct(s0.as("d"), lit(i).as("i"))
    }: _*)).getField("i")
  }

  /** The query's nProbe nearest cells by integer distance (ties → lower
    * cell), identical arithmetic to the SQL mirror. */
  def probeCellsQ(q: Array[Long], centroids: Array[Array[Long]], nProbe: Int): Seq[Int] =
    centroids.indices.sortBy { c =>
      var d = 0L; var i = 0
      while (i < q.length) { val x = q(i) - centroids(c)(i); d += x * x; i += 1 }
      (d, c)
    }.take(nProbe)

  /** Portable IVF top-k: integer-trained cells, probe the nProbe nearest,
    * rank by the portable sign(dot)·dot²/‖v‖² ordering (the
    * quantizedCosineTopK convention — integer outputs only). Pass
    * precomputed centroids to skip retraining (the materialized-index
    * path); without them this is the self-contained single-call form. */
  def ivfTopKQuantized(emb: DataFrame, query: Seq[Float], k: Int,
                       nCells: Int = 16, nProbe: Int = 3,
                       centroidsOpt: Option[Array[Array[Long]]] = None): DataFrame = {
    val centroids = centroidsOpt.getOrElse(trainIvfCentroidsQuantized(emb, nCells))
    val probes = probeCellsQ(quantizeQuery(query), centroids, nProbe)
    rankQuantizedCosine(
      emb.withColumn("cell", quantizedCellOf(col("embedding"), centroids))
        .filter(col("cell").isin(probes: _*)),
      query, k)
  }

  /** Shared portable ranking tail: quantized dot + self-norm, ordered by
    * sign(dot)·dot²/‖v‖² (one exact IEEE division), tie-break vec_id. */
  def rankQuantizedCosine(candidates: DataFrame, query: Seq[Float], k: Int): DataFrame = {
    val qArr = array(query.map(v => lit(v.toDouble)): _*)
    candidates.select(col("vec_id"),
        quantized_dot(col("embedding"), qArr).as("qdot"),
        quantized_dot(col("embedding"), col("embedding")).as("qna"))
      .filter(col("qna") > 0)
      .orderBy(
        (when(col("qdot") < 0, lit(-1.0d)).otherwise(lit(1.0d)) *
          (col("qdot").cast("double") * col("qdot").cast("double") /
            col("qna").cast("double"))).desc,
        col("vec_id"))
      .limit(k)
  }
}
