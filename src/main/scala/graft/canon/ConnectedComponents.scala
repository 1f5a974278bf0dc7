package graft.canon

import org.apache.spark.sql.{DataFrame, Dataset, SparkSession}
import org.apache.spark.sql.functions._
import graft.core.EquivEdge
import graft.graph.GraphOps

/** Global entity canonicalization via iterative-self-join connected
  * components (SURVEY.md J6/X4, §7.1 module 7).
  *
  * The reference resolves equivalents per document with an in-memory
  * union-merge (example_generation_cross_sentence_MD.py:85-92) and picks
  * `sorted(equiv_set)[0]` as the representative in evaluation
  * (TrainRelationExtractionSystem/evalsorel.py:100-108). The engine needs
  * the *global* version: alias/cross-reference edges over the whole entity
  * universe, closed to a canonical id per component = the component's
  * lexicographically-smallest member (the same representative rule).
  *
  * Algorithm: min-label propagation. Each node starts labeled with itself;
  * every iteration joins labels across edges (both directions — the graph
  * is undirected) and keeps the min; stop at fixpoint. Converges in
  * O(component diameter) shuffles — alias components are shallow (≤ a few
  * hops), so 2-4 iterations in practice. Each iteration `localCheckpoint`s
  * to cut the lineage (SURVEY.md §4: prevents plan blowup across loops).
  * Hot entities (p53-class skew, SURVEY.md §7.3.3) are handled by AQE
  * skew-join splitting — enabled in the session conf — rather than manual
  * salting, since the label join is a plain equi-join AQE can split.
  */
object ConnectedComponents {

  /** Adaptive entry point: small edge sets (≲ a broadcast) take a
    * driver-side union-find — one collect, zero join iterations; large
    * ones run the distributed min-label loop. Both produce the identical
    * min-representative map (tested against each other in CanonEvalSpec).
    * The cutover mirrors Spark's own broadcast-join threshold thinking:
    * the canonical map must be broadcastable afterwards anyway, so a
    * below-threshold edge set is by definition driver-safe. */
  def canonicalizeAuto(edges: Dataset[EquivEdge], driverLimit: Int = 1000000)
                      (implicit spark: SparkSession): DataFrame = {
    import spark.implicits._
    // ONE take(limit+1) decides the path AND fetches the driver-side data —
    // a count()-then-collect() pair costs two scheduler round-trips of pure
    // fixed overhead per pipeline run (visible in short high-core runs).
    // Accepted, bounded cost of the fusion: when the edge set is huge and
    // the distributed path is then taken, the take() has still pulled up to
    // driverLimit+1 EquivEdge rows (two short ids each — tens of MB at the
    // 1M default) to the driver before discarding them. Tune driverLimit
    // down if driver memory is tighter than a broadcast of the same map.
    val taken = edges.take(driverLimit + 1)
    if (taken.length <= driverLimit) {
      val parent = scala.collection.mutable.HashMap.empty[String, String]
      // iterative find + path compression: a recursive find would build a
      // stack frame per link and overflow on the long alias chains a
      // root-first insertion order produces (up to driverLimit deep)
      def find(x: String): String = {
        var r = x
        while (parent.getOrElse(r, r) != r) r = parent(r)
        var c = x
        while (c != r) { val next = parent(c); parent(c) = r; c = next }
        r
      }
      taken.foreach { e =>
        val (ra, rb) = (find(e.src), find(e.dst))
        if (ra != rb) { // union by min label keeps the representative rule
          if (ra < rb) parent(rb) = ra else parent(ra) = rb
        }
      }
      val keys = parent.keySet.toSeq
      keys.map(k => (k, find(k))).toDF("node_id", "canonical_id")
    } else canonicalize(edges)
  }

  /** Long-limit overload (source compatibility with the original Long
    * signature); take() is Int-bounded, so larger limits clamp. */
  def canonicalizeAuto(edges: Dataset[EquivEdge], driverLimit: Long)
                      (implicit spark: SparkSession): DataFrame =
    canonicalizeAuto(edges, math.min(driverLimit, (Int.MaxValue - 1).toLong).toInt)

  /** @return DataFrame(node_id, canonical_id) covering every node that
    *         appears in `edges`; callers union isolated nodes as identity. */
  def canonicalize(edges: Dataset[EquivEdge], maxIter: Int = 20)
                  (implicit spark: SparkSession): DataFrame = {
    import spark.implicits._
    // undirected: both directions once, hash-partitioned on src and
    // persisted for the loop's joins (the graph operators' adjacency)
    GraphOps.withAdjacency(GraphOps.symmetrize(edges.toDF())) { sym =>
      var labels = sym.select($"src".as("node_id"))
        .distinct()
        .withColumn("canonical_id", $"node_id")
        .localCheckpoint()
      var changed = 1L
      var iter = 0
      while (changed > 0 && iter < maxIter) {
        // candidate label per node = min over: own label, neighbors'
        // labels (one-hop propagation), and the label's own label
        // (pointer jumping) — the shortcutting turns O(diameter)
        // convergence into O(log diameter), so long alias chains don't
        // exhaust the iteration budget
        val viaNeighbors = sym
          .join(labels, sym("src") === labels("node_id"))
          .select(sym("dst").as("node_id"), $"canonical_id")
        val l2 = labels.select($"node_id".as("ptr_node"), $"canonical_id".as("ptr_label"))
        val viaPointer = labels
          .join(l2, labels("canonical_id") === l2("ptr_node"))
          .select(labels("node_id"), $"ptr_label".as("canonical_id"))
        val next = labels.unionByName(viaNeighbors).unionByName(viaPointer)
          .groupBy($"node_id")
          .agg(min($"canonical_id").as("canonical_id"))
          .localCheckpoint() // cut lineage each round
        changed = next.join(labels.withColumnRenamed("canonical_id", "prev"), "node_id")
          .filter($"canonical_id" =!= $"prev").count()
        labels = next
        iter += 1
      }
      require(changed == 0, s"connected components did not converge in $maxIter iterations")
      labels
    }
  }

  /** Rewrite a column of node ids to canonical ids: identity for nodes with
    * no equivalence edges. The canonical map is tiny relative to the corpus
    * (entity universe, not mention universe), so broadcast it. */
  def withCanonical(df: DataFrame, idCol: String, canonMap: DataFrame,
                    outCol: String): DataFrame =
    df.join(broadcast(canonMap.withColumnRenamed("node_id", idCol)
        .withColumnRenamed("canonical_id", outCol)),
        Seq(idCol), "left")
      .withColumn(outCol, coalesce(col(outCol), col(idCol)))
}
