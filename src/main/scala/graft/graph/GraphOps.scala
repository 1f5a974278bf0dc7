package graft.graph

import org.apache.spark.sql.{Column, DataFrame, Observation}
import org.apache.spark.sql.functions._
import org.apache.spark.storage.StorageLevel

/** Graph analytics over the materialized knowledge-graph edge table —
  * the rollup stage downstream of extraction (`Queries.kgEdgeRollup`):
  * once per-document triples are merged into (subj, pred, obj, n_docs)
  * edges, a KG consumer's first questions are structural (how connected
  * is each entity? which entities are central?). Both operators here are
  * pure DataFrame compositions designed for a billion-edge table.
  *
  * PageRank runs in FIXED-POINT integer arithmetic (parts-per-`scale`
  * ranks, damping in ppm) so the result is bit-exact across engines —
  * the same trick the quantized-embedding operators use: the DuckDB
  * oracle unrolls the identical integer recurrence and a hash match
  * proves every division and sum, not "close enough floats". Integer
  * division truncates a little rank mass per step; that loss is
  * deterministic and identical on both sides, and ranking ORDER matches
  * the float algorithm for any non-degenerate graph. (PageRank: Page,
  * Brin, Motwani, Winograd 1999; damping 0.85 is the published default.)
  */
object GraphOps {

  /** Undirected view of a directed/unordered edge list: both directions,
    * distinct. Input columns (src, dst); self-loops are kept as-is (one
    * row — src = dst collapses under distinct). */
  def symmetrize(edges: DataFrame): DataFrame = {
    val e0 = edges.select(col("src"), col("dst")).distinct()
    e0.union(e0.select(col("dst").as("src"), col("src").as("dst"))).distinct()
  }

  /** The simple undirected graph of an edge list: [[symmetrize]] without
    * self-loops — the view every degree-, neighbor- and triangle-based
    * operator reads. */
  def undirected(edges: DataFrame): DataFrame =
    symmetrize(edges).filter(col("src") =!= col("dst"))

  /** The one adjacency policy of the iterative operators: `edges` (in
    * whatever shape the caller's loop reads — symmetrized, degree-joined,
    * weighted, temporal or directed) hash-partitioned on src ONCE and
    * persisted, so every round's join shuffles only the small side; the
    * table is released when `body` returns or throws. */
  private[graft] def withAdjacency[T](edges: DataFrame)(body: DataFrame => T): T = {
    val adj = edges.repartition(col("src"))
      .persist(StorageLevel.MEMORY_AND_DISK)
    try body(adj) finally adj.unpersist()
  }

  /** Per-node degree (n, d) of a symmetric edge list (src, dst). */
  private def degrees(sym: DataFrame): DataFrame =
    sym.groupBy(col("src").as("n")).agg(count(lit(1)).as("d"))

  /** `df` checkpointed, with the number of its rows that satisfy `rows`
    * observed in the same job: the iterative kernels' emptiness test,
    * without a probe job of its own. */
  private def checkpointCounting(df: DataFrame,
                                 rows: Column = lit(true)): (DataFrame, Long) = {
    val n = Observation()
    val cp = df.observe(n, count(when(rows, 1)).as("n")).localCheckpoint(true)
    (cp, n.get("n").asInstanceOf[Long])
  }

  /** The one frontier BFS of the hop-distance operators ([[khopDistances]],
    * [[perSeedDistances]], [[transitiveClosure]] and the forward phase of
    * [[betweenness]]). `start` holds the rows settled before the first of
    * `hops`: (keys…, node, dist), plus any payload columns. Each round
    * expands only the LAST round's new rows by one edge (src → dst) of
    * `adj`, keeps one row per (keys…, node) — summing every payload column
    * over the row's predecessors (betweenness' σ) — and anti-joins away
    * the pairs already settled, so each pair settles once, at its minimum
    * hop. Round r touches O(|frontier_r|·d̄) rows, not O(|settled|·d̄).
    *
    * One policy for every caller, measured per catalog entry (CHANGES.md):
    *  - each round's frontier is pinned to `defaultParallelism`
    *    partitions on (keys…, node) before its checkpoint: the next
    *    round's expansion fans every frontier row out by its degree, a
    *    rows×degree cost AQE's byte-based coalescing cannot see (a
    *    small-byte frontier collapses to 1-2 partitions and the fan-out
    *    runs single-task); the explicit count is exempt from re-coalescing;
    *  - every frontier is checkpointed, so k rounds stay k·O(1) plans and
    *    the settled table is a flat union of materialized leaves;
    *  - each frontier's row count is observed in its checkpoint job, and
    *    an empty frontier ends the loop without a probe job — equal to
    *    running every round, as an empty frontier expands to nothing.
    *
    * @return the settled rows of every round (`start` included) and the
    *         row count of each level, `start` first. */
  private def frontierBfs(adj: DataFrame, start: DataFrame, keys: Seq[String],
                          hops: Range): (DataFrame, Vector[Long]) = {
    val key = keys :+ "node"
    val sums = start.columns.toSeq.filterNot((key :+ "dist").contains)
      .map(p => sum(col(p)).as(p))
    val par = adj.sparkSession.sparkContext.defaultParallelism
    var (frontier, n) = checkpointCounting(start)
    var settled = frontier
    var sizes = Vector(n)
    val rounds = hops.iterator
    while (n > 0 && rounds.hasNext) {
      val hop = rounds.next()
      val expanded = frontier.join(adj.withColumnRenamed("src", "node"), "node")
      val reached = keys.map(col) :+ col("dst").as("node")
      val next = (if (sums.isEmpty) expanded.select(reached: _*).distinct()
                  else expanded.groupBy(reached: _*).agg(sums.head, sums.tail: _*))
        .join(settled, key, "left_anti")
        .withColumn("dist", lit(hop))
        .repartition(par, key.map(col): _*)
      val (f, m) = checkpointCounting(next)
      frontier = f; n = m; sizes :+= m
      settled = settled.unionByName(frontier)
    }
    (settled, sizes)
  }

  /** The one min-relaxation loop of [[ssspBounded]] and
    * [[earliestArrival]]. `start` holds (node, <value>). Each round `cand`
    * turns an edge of `adj` (src, dst, …) out of the frontier — the nodes
    * whose value improved last round; it reads their value column — into
    * a candidate value for dst, or null where the edge cannot be taken.
    * The minimum candidate per node is merged full-outer into the settled
    * values (least skips nulls), and the nodes it improved are the next
    * frontier: an unchanged node already offered its candidates and
    * values never grow, so relaxing it again is a no-op. Each round's
    * merge is checkpointed with its improved rows counted in the same job;
    * a round that improves nothing ends the loop, as every later round
    * would be the identity.
    *
    * @return (node, <value>) over `start` and every node reached within
    *         `rounds` relaxations. */
  private def relaxMin(adj: DataFrame, start: DataFrame, rounds: Int)
                      (cand: Column): DataFrame = {
    val v = start.columns(1)
    var (settled, n) = checkpointCounting(start)
    var frontier = settled
    var r = 0
    while (r < rounds && n > 0) {
      r += 1
      val best = frontier.join(adj.withColumnRenamed("src", "node"), "node")
        .select(col("dst").as("node"), cand.as("c"))
        .filter(col("c").isNotNull)
        .groupBy(col("node")).agg(min(col("c")).as("c"))
      val (merged, m) = checkpointCounting(
        settled.join(best, Seq("node"), "full_outer")
          .select(col("node"), least(col(v), col("c")).as(v),
            (col("c").isNotNull && (col(v).isNull || col("c") < col(v)))
              .as("improved")),
        col("improved"))
      frontier = merged.filter(col("improved")).select(col("node"), col(v))
      settled = merged.select(col("node"), col(v))
      n = m
    }
    settled
  }

  /** Every triangle of a simple undirected graph `sym` (src, dst, both
    * directions) exactly once, as (u, v, w) — the one enumeration of
    * [[triangleCounts]] (and through it [[graphStats]]) and of
    * [[kTrussPeel]]'s supports.
    *
    * DEGREE-ORDERED compact-forward (Latapy 2008, the standard
    * distributed variant): nodes are ranked by (degree, id) and every
    * edge is oriented from the lower- to the higher-ranked endpoint, so
    * each triangle is generated exactly once — at its lowest-ranked
    * corner u, with v ranked before w — and, crucially, wedge fan-out at a
    * hub is bounded by the number of HIGHER-ranked neighbors, O(√E) per
    * node, instead of the raw degree. On a p53-class hub (degree 10⁵ in a
    * billion-edge KG) the naive id-ordered join builds 10¹⁰ wedges; the
    * degree-ordered one caps at ~|E|^{3/2} total work, the proven bound.
    * Shape: two self-equi-joins on the oriented edge table, no collect,
    * no window.
    *
    * One policy for every caller, measured per catalog entry (CHANGES.md):
    * the oriented table is checkpointed — its three consumers (both wedge
    * sides and the closing probe) read it instead of re-deriving the two
    * degree joins each, and the closing side, small with known stats,
    * broadcasts under the wedge join — and the wedge sides are not
    * pinned. */
  private def triangles(sym: DataFrame): DataFrame = {
    val deg = degrees(sym)
    // orient low→high by (degree, id); ties break on the id so the order
    // is total and the oriented edge set is exactly half the symmetric one
    val or1 = sym
      .join(deg.select(col("n").as("src"), col("d").as("ds")), "src")
      .join(deg.select(col("n").as("dst"), col("d").as("dd")), "dst")
      .filter(col("ds") < col("dd") ||
        (col("ds") === col("dd") && col("src") < col("dst")))
      .select(col("src"), col("dst"), col("dd"))
      .localCheckpoint(true)
    // wedges at the lowest-ranked corner u: (u→v, u→w) with v before w in
    // the SAME (degree, id) order; triangle iff the oriented edge v→w
    // exists. The closing join probes the oriented table, not the full
    // symmetric one — half the build side.
    val x = or1.select(col("src").as("u"), col("dst").as("v"), col("dd").as("dv"))
    val y = or1.select(col("src").as("u"), col("dst").as("w"), col("dd").as("dw"))
    val wedges = x.join(y, Seq("u"))
      .filter(col("dv") < col("dw") ||
        (col("dv") === col("dw") && col("v") < col("w")))
    val closing = or1.select(col("src").as("v"), col("dst").as("w"))
    wedges.join(closing, Seq("v", "w")).select("u", "v", "w")
  }

  /** Per-node structural rollup of an edge-rollup table
    * (subj, obj, n_docs): undirected degree (distinct neighbors — robust
    * to multi-predicate rollups where (subj, obj) repeats per pred) and
    * total supporting-document count over incident edges. One unionByName
    * (no shuffle) + one map-side-combinable aggregation — the same shape
    * at 10⁹ edges. */
  def nodeDegrees(edgeRollup: DataFrame): DataFrame = {
    val sym = edgeRollup
      .select(col("subj").as("node"), col("obj").as("nb"), col("n_docs"))
      .unionByName(edgeRollup
        .select(col("obj").as("node"), col("subj").as("nb"), col("n_docs")))
    sym.groupBy(col("node"))
      .agg(countDistinct(col("nb")).as("degree"),
        sum(col("n_docs")).as("doc_support"))
  }

  /** Per-node triangle counts over an undirected edge list — the local
    * clustering signal a KG consumer reads to separate tight complexes
    * from hub-and-spoke co-occurrence artifacts.
    *
    * Enumeration is the degree-ordered compact-forward [[triangles]]:
    * each triangle once, at its lowest-ranked corner, credited to its
    * three corners by one map-side-combinable count. The triangle SET is
    * orientation-invariant, so the DuckDB oracle enumerates with the
    * naive a<b<c form and a hash match proves the optimized plan exact.
    *
    * @return DataFrame(node, n_tri) covering every node of the
    *         symmetrized edge list (0 for triangle-free nodes). */
  def triangleCounts(edges: DataFrame): DataFrame = {
    val sym = undirected(edges)
    val tris = triangles(sym)
    val corners = tris.select(explode(array(col("u"), col("v"), col("w"))).as("node"))
      .groupBy(col("node")).agg(count(lit(1)).as("n_tri"))
    degrees(sym).select(col("n").as("node"))
      .join(corners, Seq("node"), "left")
      .select(col("node"), coalesce(col("n_tri"), lit(0L)).as("n_tri"))
  }

  /** Shared-neighbor Jaccard similarity between node pairs — the
    * entity-resolution candidate generator: two KG nodes whose
    * neighborhoods largely coincide are duplicate-entity suspects (the
    * graph analog of the document keep-list's near-dup edges; feed the
    * surviving pairs into [[graft.canon.ConnectedComponents]] to close
    * merge groups, exactly as `Dedup.keepList` closes document edges).
    *
    * All-INTEGER arithmetic: |N(a)∩N(b)| comes off one wedge self-join,
    * |N(a)∪N(b)| = d(a)+d(b)−inter, and the threshold is the cross-
    * multiplied `inter·1000 ≥ minPermille·union` — no float division
    * anywhere, so the DuckDB oracle matches bit-for-bit (the quantized-
    * cosine precedent). Only pairs sharing ≥1 neighbor are ever
    * materialized (disjoint neighborhoods can't pass any threshold > 0),
    * which is what makes this runnable at KG scale: the wedge join is
    * bounded by Σ_nb d(nb)², concentrated on hubs — at a true p53-class
    * hub, cap or sample the hub's adjacency first (the AQE skew-join
    * split handles the shuffle side; the quadratic blowup itself is the
    * published bottleneck every similarity-join paper prefilters).
    *
    * @return DataFrame(node_a, node_b, inter, uni, jac_permille),
    *         node_a < node_b, jac_permille = inter·1000 div union. */
  def neighborJaccard(edges: DataFrame, minPermille: Int = 0): DataFrame = {
    require(minPermille >= 0 && minPermille <= 1000,
      s"minPermille must be in [0, 1000], got $minPermille")
    val sym = undirected(edges)
    val deg = degrees(sym)
    val wedges = sym.select(col("src").as("node_a"), col("dst").as("nb"))
      .join(sym.select(col("src").as("node_b"), col("dst").as("nb")), Seq("nb"))
      .filter(col("node_a") < col("node_b"))
      .groupBy(col("node_a"), col("node_b"))
      .agg(count(lit(1)).as("inter"))
    wedges
      .join(deg.select(col("n").as("node_a"), col("d").as("da")), "node_a")
      .join(deg.select(col("n").as("node_b"), col("d").as("db")), "node_b")
      .withColumn("uni", col("da") + col("db") - col("inter"))
      .filter(col("inter") * 1000 >= lit(minPermille.toLong) * col("uni"))
      .select(col("node_a"), col("node_b"), col("inter"), col("uni"),
        expr("(inter * 1000) div uni").as("jac_permille"))
  }

  /** Multi-source BFS hop distances over an undirected edge list: every
    * node reachable from `seeds` within `maxHops` hops, labeled with its
    * MINIMUM hop count. The engine runs the textbook frontier loop — each
    * round expands only the nodes discovered LAST round and anti-joins
    * away everything already settled — while the DuckDB oracle unrolls
    * the naive recurrence dᵢ = min(dᵢ₋₁ ∪ {neighbor+1}) over the WHOLE
    * settled set each round; the two agree exactly because BFS layers are
    * exactly the rows the anti-join admits, so the hash match proves the
    * frontier optimization (the thing that makes hop-k queries affordable
    * on a billion-edge graph: round r touches O(|frontier_r|·d̄) rows, not
    * O(|settled|·d̄)) lossless.
    *
    * Scale shape: [[frontierBfs]] with no key over the symmetrized edge
    * table, hash-partitioned on src once and persisted; each round
    * shuffles only the frontier (and broadcasts it when small). An
    * emptied frontier short-circuits the remaining rounds — equal to the
    * unrolled oracle, whose extra rounds are no-ops once nothing new is
    * reachable.
    *
    * @param seeds single-column DataFrame `node`; rows absent from the
    *              edge list are still emitted at dist 0 (a seed is at
    *              distance 0 from itself regardless of degree).
    * @return DataFrame(node, dist), dist ∈ [0, maxHops]. */
  def khopDistances(edges: DataFrame, seeds: DataFrame, maxHops: Int): DataFrame = {
    require(maxHops >= 0, s"maxHops must be >= 0, got $maxHops")
    withAdjacency(symmetrize(edges)) { sym =>
      frontierBfs(sym, seeds.select(col("node")).distinct()
        .withColumn("dist", lit(0)), Nil, 1 to maxHops)._1
    }
  }

  /** PER-SEED bounded BFS distances — [[khopDistances]] keyed by seed:
    * where the multi-source form settles the MIN distance over the whole
    * seed set, this keeps one distance row PER (seed, reached node), the
    * table sampled-source centrality estimators aggregate: [[frontierBfs]]
    * keyed on seed, anti-joined on the (seed, node) pair; the frontier
    * join stays ONE equi-join per hop regardless of seed count (seeds ride
    * along as a key column), so s seeds cost the same shuffle count as
    * one.
    *
    * @param seeds one `node` column; duplicates collapse.
    * @return DataFrame(seed, node, dist) for every node within `maxHops`
    *         of each seed (dist 0 = the seed itself). */
  def perSeedDistances(edges: DataFrame, seeds: DataFrame,
                       maxHops: Int): DataFrame = {
    require(maxHops >= 0, s"maxHops must be >= 0, got $maxHops")
    withAdjacency(symmetrize(edges)) { sym =>
      frontierBfs(sym, seedRows(seeds), Seq("seed"), 1 to maxHops)._1
    }
  }

  /** One hop-0 row (seed, node = seed, dist = 0) per distinct seed. */
  private def seedRows(seeds: DataFrame): DataFrame =
    seeds.select(col("node").as("seed")).distinct()
      .select(col("seed"), col("seed").as("node"), lit(0).as("dist"))

  /** SAMPLED-SOURCE HARMONIC CENTRALITY (Eppstein–Wang estimation,
    * Δ-bounded): for every node v, Σ over sampled seeds s ≠ v within
    * `maxHops` of 1000 div d(s, v) — the integer-permille harmonic sum.
    * Exact harmonic centrality needs all-pairs distances (quadratic —
    * off the table at 10⁹ nodes); the standard scalable estimator runs
    * BFS from a deterministic seed SAMPLE and rescales, with the hop
    * bound cutting the long tail (distant nodes contribute ≤ 1000/Δ
    * each). Pass every node as a seed for the exact bounded form on
    * small graphs.
    *
    * @return DataFrame(node, h_permille, n_seeds_reached) over nodes
    *         within `maxHops` of ≥ 1 seed (a seed reached only by itself
    *         does not appear — dist 0 contributes nothing). */
  def harmonicCentrality(edges: DataFrame, seeds: DataFrame,
                         maxHops: Int): DataFrame =
    perSeedDistances(edges, seeds, maxHops)
      .filter(col("dist") > 0)
      .groupBy(col("node"))
      .agg(sum(expr("1000 div dist")).as("h_permille"),
        count(lit(1)).as("n_seeds_reached"))

  /** NEIGHBORHOOD FUNCTION (ANF) via bottom-k sketches — "how many nodes
    * are within r hops of v?", the scalable all-sources reachability
    * profile (Palmer-Gibbons-Faloutsos ANF, KDD 2002; HyperBall swaps
    * the same loop's sketch for HLL, Boldi-Vigna 2013; this uses the
    * engine's KMV bottom-k convention — [[graft.operators.TextAnalysis]]
    * `kmvDistinctTokens` — so the estimator is deterministic and
    * oracle-replayable). Every node starts holding the portable LCG hash
    * of itself; each round its sketch absorbs its neighbors' sketches
    * and keeps the k smallest hashes — bottom-k union is exactly
    * set-union followed by truncation, the mergeable-sketch property
    * that lets a billion-node graph carry O(k) state per node where the
    * exact ball sets would be quadratic.
    *
    * Estimate after the last round: the EXACT distinct-hash count while
    * the sketch is under capacity (the whole ball fits), else
    * (k−1)·P div h_k (Bar-Yossef et al. 2002 — the kmvDistinctTokens
    * formula verbatim; hash collisions under-count as in any KMV).
    *
    * Scale shape: per round one co-partitioned state join + a TWO-PHASE
    * combinable bottom-k — per (node, salt) bottom-k arrays, then one
    * final per-node merge of ≤ `salts` k-arrays (the two-level
    * aggregation skew pattern of guide §2.5). Bottom-k truncation
    * commutes with set union, so per-salt truncation before the global
    * merge is lossless; both aggregations are partial/map-side
    * combinable, and NO per-node Window ranks the candidates — the
    * previous row_number form put a 10⁷-degree hub's ~10⁸ candidate rows
    * on ONE window task per round, with no partial aggregation. State
    * never exceeds k rows per node.
    *
    * @return DataFrame(node, nf_est, sketch_size) — estimated
    *         |ball(node, rounds)| including the node itself. */
  def neighborhoodFunction(edges: DataFrame, rounds: Int, k: Int,
                           hashIdx: Int = 17, salts: Int = 16): DataFrame = {
    require(rounds >= 1, s"rounds must be >= 1, got $rounds")
    require(k >= 2, s"k must be >= 2, got $k")
    require(salts >= 1, s"salts must be >= 1, got $salts")
    import graft.operators.Dedup
    withAdjacency(undirected(edges)) { sym =>
      var state = sym.select(col("src").as("node")).distinct()
        .select(col("node"), Dedup.lcgHash(hashIdx, col("node")).as("h"))
        .localCheckpoint(true)
      for (_ <- 1 to rounds) {
        val fromNb = sym.join(state, sym("dst") === state("node"))
          .select(sym("src").as("node"), col("h"))
        // distinct() first: the sketch fan-out is heavily duplicated (~8×
        // at sf0.1), and the cheap codegen'd dedup exchange feeds the
        // object-hash collect aggregation far fewer rows than folding the
        // dedup into collect_set would (measured 4.7s vs 6.6s); its partial
        // (map-side) dedup also means the exchange carries deduped rows, so
        // the exchange itself stays UNPINNED — the heavy collect stage
        // downstream is spread by bottomKPerNode's own pinned partitioning.
        val all = state.unionByName(fromNb).distinct()
        state = bottomKPerNode(all, k, salts).localCheckpoint(true)
      }
      state.groupBy(col("node"))
        .agg(count(lit(1)).as("m"), max(col("h")).as("hk"))
        .select(col("node"),
          when(col("m") < k, col("m"))
            .otherwise(expr(s"(${k - 1} * ${Dedup.HashP}) div hk"))
            .as("nf_est"),
          col("m").as("sketch_size"))
    }
  }

  /** Per-node bottom-k over DISTINCT (node, h) rows, as a two-phase
    * COMBINABLE aggregation (no Window): per (node, h mod salts) bottom-k
    * arrays, then a per-node merge of ≤ `salts` k-arrays. Truncation
    * commutes with set union, so the per-salt truncation is lossless; a
    * hub node's candidates split over `salts` groups instead of landing
    * on one window task. Duplicate (node, h) rows are absorbed by the
    * per-salt collect_set — equal hashes land in the same salt group, so
    * no cross-salt re-dedup is needed and callers skip their own
    * distinct(). Returns (node, h) rows: the k smallest h per node. */
  private[graft] def bottomKPerNode(all: DataFrame, k: Int,
                                    salts: Int): DataFrame = {
    // the per-salt exchange is pinned: the collect_set aggregation is
    // row-heavy on byte-small input, and AQE's byte-based coalescing
    // would run its reduce side 1-2-task (the fan-out-pin argument);
    // repartitioning on the exact grouping keys satisfies the
    // aggregation's clustering, so no extra exchange is planned
    val par = all.sparkSession.sparkContext.defaultParallelism
    all
      .withColumn("salt", pmod(col("h"), lit(salts.toLong)))
      .repartition(par, col("node"), col("salt"))
      .groupBy(col("node"), col("salt"))
      .agg(slice(array_sort(collect_set(col("h"))), 1, k).as("hs"))
      .groupBy(col("node"))
      .agg(slice(array_sort(flatten(collect_list(col("hs")))), 1, k)
        .as("hs"))
      .select(col("node"), explode(col("hs")).as("h"))
  }

  /** SAMPLED-SOURCE BETWEENNESS CENTRALITY — Brandes' two-phase
    * dependency accumulation (Brandes 2001) from a deterministic seed
    * sample with a hop bound, the standard scalable estimator
    * (Brandes-Pich 2007; exact betweenness is all-pairs — off the table
    * at 10⁹ nodes, like the harmonic case above).
    *
    * Forward phase per seed: synchronous BFS carrying the EXACT
    * shortest-path counts σ(s,v) — a node discovered in round r has
    * dist r, and its σ is the sum of its round-(r−1) predecessors' σ
    * (integral, no estimation). Backward phase, deepest level first:
    *   δ(s,v) = Σ_{w succ of v} σ(v) · (scale + δ(s,w)) div σ(w)
    * — Brandes' recurrence in FIXED-POINT integers (dependencies scaled
    * by `scale`; each division is exact integer arithmetic, so the
    * DuckDB oracle replays it term-for-term; all terms non-negative, so
    * truncation is floor on both engines). Betweenness(v) = Σ over
    * seeds of δ(s,v), v ≠ s.
    *
    * Scale shape: the forward loop is [[frontierBfs]] keyed on seed, as
    * in [[perSeedDistances]], with σ as its summed payload; the backward
    * loop is `maxHops` co-partitioned
    * level-(l)×level-(l+1) joins — every join keyed on (seed, node), no
    * window, no collect; s seeds share each round's shuffles.
    *
    * @return DataFrame(node, bc_scaled, n_seeds) over nodes reached by
    *         ≥ 1 foreign seed: the summed scaled dependency and the
    *         number of seeds whose BFS reached the node. */
  def betweenness(edges: DataFrame, seeds: DataFrame, maxHops: Int,
                  scale: Long = 1000000L): DataFrame = {
    require(maxHops >= 1, s"maxHops must be >= 1, got $maxHops")
    val par = edges.sparkSession.sparkContext.defaultParallelism
    withAdjacency(undirected(edges)) { sym =>
      val (settled, levelSize) = frontierBfs(sym,
        seedRows(seeds).withColumn("sigma", lit(1L)), Seq("seed"), 1 to maxHops)
      // the deepest non-empty level (the BFS stops at the first empty one)
      val deepest = levelSize.lastIndexWhere(_ > 0)
      // backward accumulation: δ at the deepest level is 0; each level
      // pulls from its successors through the (seed-shared) edge table.
      // Deliberately NOT a materialized successor-DAG: the DAG is
      // |seeds|·|reachable edges| rows (measured 1.7× slower to checkpoint
      // at sf0.1 than re-deriving per level), while the per-level join
      // aggregates the same fan-out straight down to |level| rows.
      //
      // Delta rows CARRY the node's own sigma, so (a) the per-level
      // contribution join needs no settled re-join for wsigma (it was the
      // third join per level — every delta row originates from a settled
      // row that had sigma in hand), and (b) the successor messages are
      // derived by streaming the partitioned-and-cached EDGE table against
      // the (small) successor side — sym ⋈ succ fans out ONLY the edges
      // that point INTO a successor, instead of materializing the full
      // level×degree expansion and filtering it afterwards.
      // the backward loop picks its expansion side by |level| vs |succ|
      // from the forward levels' row counts, which the BFS observed for
      // free; δ-rows per level are exactly the level's rows (the
      // left_outer below preserves them) — no per-level count() actions.
      var delta = settled.filter(col("dist") === deepest)
        .select(col("seed"), col("node"), lit(0L).as("delta"), col("sigma"))
        .localCheckpoint(true)
      var acc = delta.select(col("seed"), col("node"), col("delta"))
      for (l <- (deepest - 1) to 0 by -1) {
        val level = settled.filter(col("dist") === l)
          .select(col("seed"), col("node"), col("sigma"))
        val succ = delta.select(col("seed"), col("node").as("wnode"),
          col("delta").as("wdelta"), col("sigma").as("wsigma"))
        // expand the SMALLER side through the edge table: the fan-out
        // materializes min(|level|, |succ|)·d̄ candidate messages before the
        // other side's inner join prunes them (level and succ sizes swing by
        // ~10× between adjacent BFS levels, so picking the side per level is
        // worth ~an order of magnitude of join input). Sizes come from the
        // precomputed per-level map — no count() actions in the loop.
        val expanded =
          if (levelSize(l + 1) <= levelSize(l))
            sym.join(succ, sym("dst") === succ("wnode"))
              .select(col("seed"), sym("src").as("node"),
                col("wdelta"), col("wsigma"))
              .join(level, Seq("seed", "node"))
          else
            sym.join(level, sym("src") === level("node"))
              .select(col("seed"), col("node"), col("sigma"),
                sym("dst").as("wnode"))
              .join(succ, Seq("seed", "wnode"))
        val contrib = expanded
          .groupBy(col("seed"), col("node"))
          .agg(sum(expr(s"sigma * ($scale + wdelta) div wsigma"))
            .as("contrib"))
        delta = level
          .join(contrib, Seq("seed", "node"), "left_outer")
          .select(col("seed"), col("node"),
            coalesce(col("contrib"), lit(0L)).as("delta"), col("sigma"))
          .repartition(par, col("seed"), col("node"))
          .localCheckpoint(true)
        acc = acc.unionByName(delta.select(col("seed"), col("node"), col("delta")))
      }
      acc.filter(col("node") =!= col("seed"))
        .groupBy(col("node"))
        .agg(sum(col("delta")).as("bc_scaled"), count(lit(1)).as("n_seeds"))
    }
  }

  /** Fixed-iteration SYNCHRONOUS label propagation (Raghavan, Albert,
    * Kumara 2007, the deterministic synchronous variant): every node
    * starts labeled with itself; each round it adopts the label most
    * frequent among its neighbors, ties broken by the smallest label.
    * After k rounds the labels are community assignments — unlike
    * connected components (which merges everything reachable), LPA stops
    * at density boundaries, so a bridge between two cliques leaves them
    * in different communities. Fixed iteration count + total tie order
    * make the result bit-deterministic; the DuckDB oracle runs the same
    * recurrence with a windowed argmax while the engine uses
    * `min(struct(-count, label))` — a map-side-combinable aggregation, NO
    * Window operator (plan-asserted in GraphOpsSpec): at a billion edges
    * the per-round cost is one count shuffle + one min shuffle, both
    * partial-aggregated.
    *
    * @return DataFrame(node, label) over every non-isolated node. */
  def labelPropagate(edges: DataFrame, iterations: Int = 3): DataFrame = {
    require(iterations >= 0, s"iterations must be >= 0, got $iterations")
    withAdjacency(undirected(edges)) { sym =>
      var labels = sym.select(col("src").as("node")).distinct()
        .withColumn("label", col("node")).localCheckpoint(true)
      for (_ <- 1 to iterations) {
        labels = sym.join(labels, sym("src") === labels("node"))
          .groupBy(sym("dst").as("node"), col("label"))
          .agg(count(lit(1)).as("c"))
          .groupBy(col("node"))
          .agg(min(struct((-col("c")).as("nc"), col("label").as("l"))).as("m"))
          .select(col("node"), col("m.l").as("label"))
          .localCheckpoint(true)
      }
      labels
    }
  }

  /** 1-dimensional WEISFEILER-LEMAN color refinement — the iterated
    * structural-partition construction behind graph-DB structural
    * indexes (the A(k)/bisimulation quotient family: nodes whose k-hop
    * neighborhoods are indistinguishable share a class, so a query
    * evaluated on the quotient bounds its answer on the full graph) and
    * the expressiveness yardstick of message-passing GNNs (Weisfeiler &
    * Leman 1968; Morris et al. AAAI 2019). Round r refines the partition
    * by the signature (own color, sorted MULTISET of neighbor colors);
    * the multiset is carried as (color, count) pairs — bounded per node
    * by its distinct-neighbor-color count ≤ degree, the same
    * neighborhood-rollup bound every aggregation here lives with.
    *
    * Color compression: a fresh class id each round is the MINIMUM node
    * id sharing the signature — one groupBy(sig) + join back, instead of
    * the global `dense_rank` window a single-node implementation reaches
    * for (a total-order window is the one thing that cannot scale past
    * one partition; min-per-group shuffles on the signature hash and
    * AQE-splits like any aggregation). Node ids must be numeric.
    *
    * Scale shape: per round, one co-partitioned color join onto the
    * (repartitioned once, persisted) edge table, two map-side-combinable
    * aggregations, one signature join — k rounds = O(k) bounded-width
    * shuffles, lineage cut per round.
    *
    * @return DataFrame(node, color) — color = min node id of the node's
    *         round-`rounds` structural class. */
  def wlColors(edges: DataFrame, rounds: Int): DataFrame = {
    require(rounds >= 1, s"rounds must be >= 1, got $rounds")
    withAdjacency(undirected(edges)) { sym =>
      var colors = sym.select(col("src").as("node")).distinct()
        .withColumn("color", lit(0L)).localCheckpoint(true)
      for (_ <- 1 to rounds) {
        val nbh = sym.join(colors, sym("dst") === colors("node"))
          .groupBy(sym("src").as("node"), col("color").as("nc"))
          .agg(count(lit(1)).as("n"))
          .groupBy(col("node"))
          .agg(sort_array(collect_list(struct(col("nc"), col("n"))))
            .as("nbsig"))
        // every node of the symmetrized loop-free graph has a neighbor,
        // so the signature join is total (inner, no null branch)
        val sigs = colors.join(nbh, "node")
          .select(col("node"), struct(col("color"), col("nbsig")).as("sig"))
        val reps = sigs.groupBy(col("sig")).agg(min(col("node")).as("rep"))
        colors = sigs.join(reps, "sig")
          .select(col("node"), col("rep").as("color"))
          .localCheckpoint(true)
      }
      colors
    }
  }

  /** NEWMAN MODULARITY of a node partition over an undirected graph —
    * the standard quality score for community structure (Newman & Girvan
    * 2004): Q = Σ_c [ m_c/m − (d_c/2m)² ], community c's internal-edge
    * fraction minus the fraction a degree-preserving random rewiring
    * would give it. Emitted per community in EXACT integers: the
    * contribution numerator 4·m·m_c − d_c² over denominator 4·m², scaled
    * to ppm with the TRUNCATING integer division both engines natively
    * share (Spark `div` and DuckDB `//` both round toward zero — a
    * sparse community's negative contribution truncates identically on
    * both sides; Σ contrib_ppm ≈ 10⁶·Q either way). Long arithmetic
    * holds to ~10⁸ edges (4m²·10⁶ < 2⁶³); past that, lift the numerator
    * to decimal.
    *
    * Inputs: `edges` as DISTINCT unordered pairs (src < dst, the m-edge
    * undirected form), `labels` as (node, label) covering every endpoint.
    * Shape: one broadcast-by-construction one-row crossJoin for m, two
    * label joins on the edge table, two map-side-combinable rollups — no
    * window, no collect.
    *
    * @return DataFrame(community, n_members, m_in, deg_sum, contrib_ppm). */
  def modularity(edges: DataFrame, labels: DataFrame): DataFrame = {
    val e0 = edges.select(col("src"), col("dst"))
    val lab = labels.select(col("node"), col("label"))
    val deg = symmetrize(e0).groupBy(col("src").as("node"))
      .agg(count(lit(1)).as("deg"))
    val dc = lab.join(deg, "node")
      .groupBy(col("label").as("community"))
      .agg(count(lit(1)).as("n_members"), sum(col("deg")).as("deg_sum"))
    val mc = e0
      .join(lab.select(col("node"), col("label").as("la")),
        col("src") === col("node")).drop("node")
      .join(lab.select(col("node"), col("label").as("lb")),
        col("dst") === col("node")).drop("node")
      .filter(col("la") === col("lb"))
      .groupBy(col("la").as("community")).agg(count(lit(1)).as("m_in"))
    val m = e0.agg(count(lit(1)).as("m"))
    dc.join(mc, Seq("community"), "left_outer").crossJoin(m)
      .select(col("community"), col("n_members"),
        coalesce(col("m_in"), lit(0L)).as("m_in"), col("deg_sum"),
        expr("""((4 * m * coalesce(m_in, 0) - deg_sum * deg_sum)
               | * 1000000) div (4 * m * m)""".stripMargin)
          .as("contrib_ppm"))
  }

  /** Fixed-iteration integer PageRank over an undirected edge list.
    *
    * Ranks are longs scaled by `scale` (default parts-per-trillion);
    * init r₀ = scale div N, then `iterations` rounds of
    *   r'(v) = base + (dampingPpm · Σ_{u→v} (r(u) div od(u))) div 10⁶,
    *   base  = (scale div N) · (10⁶ − dampingPpm) div 10⁶.
    * Every node of the symmetrized graph has od ≥ 1 and an in-edge, so
    * the aggregation covers all nodes each round — no dangling-mass or
    * left-join branch needed.
    *
    * Scale shape: the edge table (|E| rows, the big side) is degree-joined
    * and hash-REPARTITIONED ON src ONCE, then persisted — the cached scan
    * reports that partitioning, so each iteration's rank join shuffles
    * only the rank table (|V| rows, orders of magnitude smaller; at local
    * catalog scale Spark broadcasts it and the edge side never moves at
    * all). The per-iteration groupBy(dst) is one map-side-combinable
    * shuffle of (node, contrib) longs. `localCheckpoint` per round cuts
    * the lineage exactly like the connected-components loop
    * ([[graft.canon.ConnectedComponents]]) — k iterations stay k·O(1)
    * plans, not one exponentially-nested one.
    *
    * @return DataFrame(node, rank_ppt) — rank in parts-per-`scale`. */
  def pageRank(edges: DataFrame, iterations: Int = 5,
               dampingPpm: Long = 850000L,
               scale: Long = 1000000000000L): DataFrame = {
    require(iterations >= 0, s"iterations must be >= 0, got $iterations")
    require(dampingPpm >= 0 && dampingPpm <= 1000000L,
      s"dampingPpm must be in [0, 1e6], got $dampingPpm")
    val sym = symmetrize(edges)
    val deg = sym.groupBy(col("src")).agg(count(lit(1)).as("od"))
    withAdjacency(sym.join(deg, "src")) { e =>
      val n = deg.count() // one bounded action: N for the uniform init
      require(n > 0, "pageRank needs a non-empty edge list")
      val r0 = scale / n
      val base = r0 * (1000000L - dampingPpm) / 1000000L
      var ranks = deg.select(col("src").as("node"), lit(r0).as("r"))
      for (_ <- 1 to iterations) {
        ranks = rankFlow(e, ranks)
          .select(col("node"),
            (lit(base) + expr(s"($dampingPpm * s) div 1000000")).as("r"))
          .localCheckpoint(true)
      }
      ranks.select(col("node"), col("r").as("rank_ppt"))
    }
  }

  /** One PageRank push over the degree-joined edges (src, dst, od): every
    * node's rank r splits into `r div od` per out-edge, summed per
    * receiving node as (node, s). */
  private def rankFlow(e: DataFrame, ranks: DataFrame): DataFrame =
    e.join(ranks, e("src") === ranks("node"))
      .select(e("dst").as("node"), expr("r div od").as("c"))
      .groupBy(col("node")).agg(sum(col("c")).as("s"))

  /** Bounded-round weighted shortest paths (synchronous Bellman-Ford,
    * the distributed relaxation): after `rounds` rounds every node holds
    * the minimum-weight distance from `sources` over paths of ≤ `rounds`
    * edges. Input columns (src, dst, w) with NON-NEGATIVE long weights;
    * edges are taken as given (directed) — symmetrize first for the
    * undirected reading.
    *
    * The engine relaxes only the CHANGED frontier each round (nodes whose
    * distance improved last round, [[relaxMin]]) — the khopDistances
    * argument with weights: a node unchanged since round j already contributed
    * dist(u)+w(u,v) to every neighbor in round j+1, distances never
    * increase, so re-relaxing it is a no-op. The DuckDB oracle unrolls
    * the NAIVE whole-set recurrence
    *   dᵢ(v) = min(dᵢ₋₁(v), min_u dᵢ₋₁(u) + w(u,v))
    * and the hash match proves the frontier pruning lossless — at a
    * billion edges that pruning is the difference between O(|changed|·d̄)
    * and O(|V|·d̄) per round. Short-circuits when a round improves
    * nothing (every later round is then the identity).
    *
    * @return DataFrame(node, dist) over sources ∪ nodes reached within
    *         `rounds` hops. */
  def ssspBounded(wEdges: DataFrame, sources: DataFrame, rounds: Int): DataFrame = {
    require(rounds >= 0, s"rounds must be >= 0, got $rounds")
    withAdjacency(wEdges.select(col("src"), col("dst"), col("w"))) { e =>
      relaxMin(e, sources.select(col("node")).distinct()
        .withColumn("dist", lit(0L)), rounds)(col("dist") + col("w"))
    }
  }

  /** One-row structural summary of an undirected graph — the sanity
    * panel a KG build publishes next to its node/edge tables: node and
    * edge counts, max degree, wedge count Σ d(d−1)/2, distinct triangle
    * count, and the global clustering coefficient 3·triangles/wedges as
    * exact ppm (integer cross-multiply — no float division, the engine's
    * standing rule). Triangles come from the degree-ordered
    * [[triangleCounts]] (each triangle counted at 3 corners, so the
    * distinct total is the corner sum div 3). All inputs are combinable
    * aggregations; the result is one row regardless of |E|. */
  def graphStats(edges: DataFrame): DataFrame = {
    val sym = undirected(edges)
    val degStats = degrees(sym).agg(count(lit(1)).as("n_nodes"), max(col("d")).as("max_degree"),
      sum(expr("d * (d - 1) div 2")).as("n_wedges"))
    val edgeCount = sym.filter(col("src") < col("dst"))
      .agg(count(lit(1)).as("n_edges"))
    val triTotal = triangleCounts(edges)
      .agg(expr("sum(n_tri) div 3").as("n_triangles"))
    degStats.crossJoin(edgeCount).crossJoin(triTotal)
      .select(col("n_nodes"), col("n_edges"), col("max_degree"),
        col("n_wedges"), col("n_triangles"),
        expr("(n_triangles * 3 * 1000000) div n_wedges").as("gcc_ppm"))
  }

  /** Bounded-round k-core PEELING over an undirected edge list: `rounds`
    * synchronous rounds of "drop every node with degree < k" (Seidman
    * 1983 cores; Batagelj-Zaversnik is the sequential algorithm, this is
    * the standard synchronous distributed relaxation). Run to fixpoint
    * the survivors are exactly the k-core; the bounded form is what a
    * billion-edge job actually schedules (each round is one combinable
    * degree count + two semi-joins — O(|E|) with no window, no collect),
    * and the round count is part of the operator contract so the DuckDB
    * oracle can unroll the identical recurrence. The loop SHORT-CIRCUITS
    * once a round removes nothing — from a stable round onward every
    * further round is the identity, so stopping early equals running all
    * `rounds` (the khopDistances empty-frontier argument).
    *
    * @return DataFrame(node, deg): survivors after the peel with their
    *         residual degree inside the surviving subgraph. */
  def kCorePeel(edges: DataFrame, k: Int, rounds: Int): DataFrame = {
    require(k >= 1, s"k must be >= 1, got $k")
    require(rounds >= 0, s"rounds must be >= 0, got $rounds")
    var (cur, n) = checkpointCounting(undirected(edges))
    var stable = false
    var r = 0
    while (r < rounds && !stable) {
      r += 1
      val keep = degrees(cur).filter(col("d") >= k).select(col("n").as("node"))
      // the survivors are counted in their checkpoint job: a round that
      // drops no edge is stable, with no count action of its own
      val (next, m) = checkpointCounting(cur
        .join(keep.withColumnRenamed("node", "src"), Seq("src"), "left_semi")
        .join(keep.withColumnRenamed("node", "dst"), Seq("dst"), "left_semi")
        .select(col("src"), col("dst")))
      stable = m == n
      cur = next; n = m
    }
    degrees(cur).select(col("n").as("node"), col("d").as("deg"))
  }

  /** LUBY'S MAXIMAL INDEPENDENT SET — the foundational symmetry-breaking
    * primitive of distributed graph computing (Luby 1986): each round
    * every undecided node draws a fresh deterministic priority (the
    * portable per-round LCG family [[graft.operators.Dedup.lcgHash]], so
    * the DuckDB oracle replays the identical draws) and joins the MIS iff
    * it beats every undecided neighbor; winners' neighbors drop out, and
    * a node whose neighbors have ALL dropped out joins unconditionally —
    * its dropped neighbors are non-members by construction, so adding it
    * is both safe and required for maximality. An MIS over a KG's
    * conflict graph is how a constructor picks a canonical representative
    * per contested region (scheduling, landmark selection, coarsening).
    *
    * Priorities are compared as ONE encoded long, `p(v)·stride + v` — the
    * (priority, id) lexicographic tiebreak folded into a single
    * aggregatable min. Node ids MUST be in [0, stride): an id ≥ stride
    * silently corrupts the encoding (the set stays independent, but the
    * documented tie order and oracle parity break), so callers with a
    * bigger id space pass a bigger `stride` — the precondition is
    * asserted against the engine's own graphs in GraphOpsSpec rather
    * than with a per-call max(node) action, which would add a full-table
    * aggregation job to every invocation. Per round: one neighbor-min
    * aggregation, two anti-joins, two semi-joins — all co-partitioned on
    * the node key; the undecided nodes are counted in their checkpoint
    * job, which ends the loop once none is left. Expected O(log n) rounds
    * for hash priorities; if `rounds` is exhausted with undecided nodes
    * left, the returned set is independent but possibly not yet maximal
    * (the caller sizes `rounds`, exactly like the k-core contract).
    *
    * @return DataFrame(node, round) — MIS members and the round each
    *         joined in. */
  def lubyMis(edges: DataFrame, rounds: Int, hashIdx: Int = 9,
              stride: Long = 10000000L): DataFrame = {
    require(rounds >= 1, s"rounds must be >= 1, got $rounds")
    require(stride >= 1, s"stride must be >= 1, got $stride")
    import graft.operators.Dedup.lcgHash
    def enc(i: Int, c: Column) =
      lcgHash((hashIdx + i) % 64, c) * lit(stride) + c
    var cur = undirected(edges)
      .localCheckpoint(true)
    var und = cur.select(col("src").as("node")).distinct()
      .localCheckpoint(true)
    var mis = und.limit(0).withColumn("round", lit(0))
    var r = 0
    var done = false
    while (r < rounds && !done) {
      r += 1
      val withEdges = cur.select(col("src").as("node")).distinct()
      val isolated = und.join(withEdges, Seq("node"), "left_anti")
      val nbMin = cur.groupBy(col("src").as("node"))
        .agg(min(enc(r, col("dst"))).as("m"))
      val winners = nbMin.filter(enc(r, col("node")) < col("m"))
        .select(col("node"))
      // joined is NOT checkpointed: every input (cur, und) is a
      // checkpointed leaf and the LCG draws are deterministic, so its
      // consumers (the mis union, the und anti-join) re-derive it with
      // one cheap aggregation over in-memory data — dropping the
      // materialization saves one job per round of a loop whose wall is
      // almost entirely job-scheduling floors (profiled: no stage above
      // 0.2s)
      val joined = winners.unionByName(isolated)
      // mis is a union of ≤rounds deterministic `joined` subtrees, each
      // over the checkpointed cur/und leaves of its round — no
      // re-checkpoint of the union (the betweenness `settled` argument):
      // dropping it saves one materialization job per round
      mis = mis.unionByName(joined.withColumn("round", lit(r)))
      val losers = cur.join(winners.withColumnRenamed("node", "src"),
        Seq("src"), "left_semi").select(col("dst").as("node")).distinct()
      val (left, n) = checkpointCounting(
        und.join(joined.unionByName(losers), Seq("node"), "left_anti"))
      und = left
      cur = cur
        .join(und.withColumnRenamed("node", "src"), Seq("src"), "left_semi")
        .join(und.withColumnRenamed("node", "dst"), Seq("dst"), "left_semi")
        .select(col("src"), col("dst")).localCheckpoint(true)
      done = n == 0
    }
    mis
  }

  /** Synchronous K-TRUSS peeling — the EDGE-level sibling of
    * [[kCorePeel]] (Cohen 2008): the k-truss is the maximal subgraph in
    * which every edge closes at least k−2 triangles, a strictly tighter
    * cohesion filter than the k-core (every k-truss sits inside the
    * (k−1)-core) and the standard "community scaffold" extraction on
    * co-occurrence graphs. Each round recomputes per-edge support inside
    * the CURRENT edge set and drops the under-supported edges; dropping
    * an edge can starve its neighbors' triangles, so peeling cascades
    * (bounded by `rounds`, with the same observed-count stability
    * short-circuit as the k-core loop — provably equal to the full
    * unroll, because peeling a stable set recomputes the same supports).
    *
    * Support enumeration is the degree-ordered compact-forward
    * [[triangles]] of [[triangleCounts]] — each triangle found once at
    * its lowest-ranked corner, then credited to its THREE edges (an
    * explode of exactly 3 rows per triangle), so hub wedge fan-out stays
    * O(√E) per node instead of the naive per-edge common-neighbor join's
    * d(hub)² blowup.
    *
    * @return DataFrame(src, dst, support), src < dst — the surviving
    *         edges with their support as of the last evaluated round
    *         (the exact truss support once the set is stable). */
  def kTrussPeel(edges: DataFrame, k: Int, rounds: Int): DataFrame = {
    require(k >= 3, s"k must be >= 3, got $k")
    require(rounds >= 1, s"rounds must be >= 1, got $rounds")
    def supports(cur: DataFrame): DataFrame = {
      val tris = triangles(cur.select(col("a").as("src"), col("b").as("dst"))
        .unionByName(cur.select(col("b").as("src"), col("a").as("dst"))))
      val credits = tris.select(explode(array(array(col("u"), col("v")),
          array(col("u"), col("w")), array(col("v"), col("w")))).as("e"))
        .groupBy(array_min(col("e")).as("a"), array_max(col("e")).as("b"))
        .agg(count(lit(1)).as("support"))
      cur.join(credits, Seq("a", "b"), "left_outer")
        .select(col("a"), col("b"),
          coalesce(col("support"), lit(0L)).as("support"))
    }
    var (cur, n) = checkpointCounting(edges
      .select(least(col("src"), col("dst")).as("a"),
        greatest(col("src"), col("dst")).as("b"))
      .filter(col("a") =!= col("b")).distinct())
    // checkpoint the SUPPORT table, not the filtered edge set: the next
    // round's edges (and the returned survivors) are cheap filters over
    // the materialized supports, so each round evaluates the triangle
    // recount exactly once — checkpointing the filtered set instead made
    // the final return re-derive the whole last supports() pass from
    // lineage (one extra full recount per call, measured ~20% of the
    // operator). The survivors are counted in that checkpoint job: a
    // round that drops no edge is stable, with no count action of its own.
    val survives = col("support") >= k - 2
    var (sup, m) = checkpointCounting(supports(cur), survives)
    var r = 1
    while (r < rounds && m < n) {
      r += 1
      cur = sup.filter(survives).select(col("a"), col("b")); n = m
      val next = checkpointCounting(supports(cur), survives)
      sup = next._1; m = next._2
    }
    sup.filter(survives)
      .select(col("a").as("src"), col("b").as("dst"), col("support"))
  }

  /** Link prediction over an undirected edge list: for every NON-adjacent
    * pair sharing at least `minCommon` neighbors, the common-neighbor
    * count and the resource-allocation index (Zhou, Lü, Zhang 2009) —
    * RA(a,b) = Σ_{z ∈ N(a)∩N(b)} 1/deg(z) — in fixed-point integers:
    * each common neighbor contributes `scale div deg(z)`, so the score is
    * a sum of exact integer terms and the DuckDB oracle matches
    * bit-for-bit (the neighborJaccard precedent; RA's hub-discounting is
    * why it beats raw common-neighbor counts on co-occurrence graphs,
    * where one busy minute links everybody).
    *
    * Shape: one wedge self-join grouped on the pair (map-side combinable
    * after the join), then a left-anti join against the existing edge set
    * — candidate pairs never materialize unless they share a neighbor,
    * and the anti-join removes the already-linked ones. Hub wedge blowup
    * is the published bottleneck of every common-neighbor method; at a
    * true hub, cap the adjacency first (the neighborJaccard caveat).
    *
    * @return DataFrame(node_a, node_b, cn, ra) with node_a < node_b,
    *         cn ≥ minCommon, ra = Σ scale div deg(z). */
  def linkPredict(edges: DataFrame, minCommon: Int = 2,
                  scale: Long = 1000000000L): DataFrame = {
    require(minCommon >= 1, s"minCommon must be >= 1, got $minCommon")
    // the wedge self-join fans each row out by deg(z); pin its input to an
    // explicit z-keyed partitioning so the fan-out spreads (the
    // userGraphEdges/perSeedDistances argument — AQE's byte-based
    // coalescing would run it on 1-2 tasks)
    val sym = undirected(edges)
      .repartition(edges.sparkSession.sparkContext.defaultParallelism,
        col("dst"))
    val deg = degrees(sym)
    val wedges = sym.select(col("src").as("node_a"), col("dst").as("z"))
      .join(sym.select(col("src").as("node_b"), col("dst").as("z")), Seq("z"))
      .filter(col("node_a") < col("node_b"))
      .join(deg.withColumnRenamed("n", "z"), Seq("z"))
      .groupBy(col("node_a"), col("node_b"))
      .agg(count(lit(1)).as("cn"),
        sum(expr(s"$scale div d")).as("ra"))
      .filter(col("cn") >= minCommon)
    // drop pairs already linked: the symmetric edge set restricted to
    // a < b is exactly the candidate key orientation
    val linked = sym.filter(col("src") < col("dst"))
      .select(col("src").as("node_a"), col("dst").as("node_b"))
    wedges.join(linked, Seq("node_a", "node_b"), "left_anti")
  }

  /** Personalized PageRank: the pageRank recurrence with the teleport
    * mass concentrated on `seeds` instead of spread uniformly (Jeh &
    * Widom 2003 — the similarity measure KG consumers use for "entities
    * related to THIS one"). Same fixed-point integer arithmetic as
    * [[pageRank]]: r₀ = scale div |S| on each seed, 0 elsewhere;
    *   r'(v) = 1_{v∈S}·base + (dampingPpm · Σ_{u→v} r(u) div od(u)) div 10⁶,
    *   base  = (scale div |S|) · (10⁶ − dampingPpm) div 10⁶.
    * Unlike uniform PageRank no node outside the reach of the seeds ever
    * appears — the rank table GROWS like a BFS frontier, which is the
    * whole point at a billion edges: iteration cost follows the seed
    * neighborhood, not |V|. Rows whose rank truncates to 0 are kept (both
    * engines keep them — identical row sets), so the output domain is
    * exactly the ≤`iterations`-hop reach of the seed set.
    *
    * @param seeds single-column DataFrame `node`; must be non-empty.
    * @return DataFrame(node, rank_ppt). */
  def personalizedPageRank(edges: DataFrame, seeds: DataFrame,
                           iterations: Int = 5, dampingPpm: Long = 850000L,
                           scale: Long = 1000000000000L): DataFrame = {
    require(iterations >= 0, s"iterations must be >= 0, got $iterations")
    require(dampingPpm >= 0 && dampingPpm <= 1000000L,
      s"dampingPpm must be in [0, 1e6], got $dampingPpm")
    val sym = symmetrize(edges)
    val deg = sym.groupBy(col("src")).agg(count(lit(1)).as("od"))
    withAdjacency(sym.join(deg, "src")) { e =>
      val (s, nS) = checkpointCounting(seeds.select(col("node")).distinct())
      require(nS > 0, "personalizedPageRank needs a non-empty seed set")
      val r0 = scale / nS
      val base = r0 * (1000000L - dampingPpm) / 1000000L
      val seedBase = s.withColumn("b", lit(base))
      var ranks = s.withColumn("r", lit(r0))
      for (_ <- 1 to iterations) {
        val contrib = rankFlow(e, ranks)
          .select(col("node"), expr(s"($dampingPpm * s) div 1000000").as("c"))
        ranks = contrib.join(seedBase, Seq("node"), "full_outer")
          .select(col("node"),
            (coalesce(col("c"), lit(0L)) + coalesce(col("b"), lit(0L))).as("r"))
          .localCheckpoint(true)
      }
      ranks.select(col("node"), col("r").as("rank_ppt"))
    }
  }

  /** DeepWalk-style RANDOM-WALK CORPUS generation (Perozzi, Al-Rfou,
    * Skiena 2014): `walksPerNode` walks of `length` steps from every
    * non-isolated node of the symmetrized graph — the sentence corpus a
    * skip-gram embedding trainer consumes. "Random" is a portable integer
    * LCG over (start, walk, step, candidate): at each step the walk moves
    * to the neighbor minimizing the hash (ties: smallest id), so the
    * corpus is bit-reproducible across engines and re-runs — the same
    * determinism contract as the stratified-sampling coin, which is what
    * lets an independent SQL engine verify every step of every walk.
    *
    * Scale shape: the frontier is |V|·walksPerNode rows — CONSTANT across
    * steps — and each step is one equi-join against the edge table
    * (repartitioned on src once, persisted) plus one map-side-combinable
    * `min(struct(hash, dst))` argmin — never a Window, never a per-walk
    * array. Walks are emitted incrementally as (start, walk, step, node)
    * ROWS, so nothing ever shuffles an O(length) sequence payload; with
    * per-step localCheckpoint the plan stays O(1) deep per step. At 10⁹
    * nodes this is the standard BSP walk generator; the edge table is the
    * only big operand and it never moves after the initial partition.
    *
    * @param edges  (src, dst) edge list, any orientation; symmetrized
    *               internally.
    * @param length steps per walk (walk emits length+1 rows incl. start).
    * @param walksPerNode independent walks started at each node.
    * @param seed   LCG salt; same seed ⇒ identical corpus.
    * @return DataFrame(start, walk, step, node). */
  def randomWalks(edges: DataFrame, length: Int, walksPerNode: Int,
                  seed: Long = 7L): DataFrame = {
    require(length >= 0, s"length must be >= 0, got $length")
    require(walksPerNode >= 1, s"walksPerNode must be >= 1, got $walksPerNode")
    withAdjacency(symmetrize(edges)) { sym =>
      var cur = walkStarts(sym, walksPerNode).localCheckpoint(true)
      var acc = stepRows(cur, 0)
      for (t <- 1 to length) {
        val h = walkHash(seed, t, sym("dst"))
        cur = cur.join(sym, cur("node") === sym("src"))
          .groupBy(col("start"), col("walk"))
          .agg(min(struct(h.as("h"), sym("dst").as("d"))).as("m"))
          .select(col("start"), col("walk"), col("m.d").as("node"))
          .localCheckpoint(true)
        acc = acc.unionByName(stepRows(cur, t))
      }
      acc
    }
  }

  /** The walks' start rows (start, walk, node = start): `walksPerNode`
    * walks from every node of the symmetric edge list `sym`. */
  private def walkStarts(sym: DataFrame, walksPerNode: Int): DataFrame =
    sym.select(col("src").as("start")).distinct()
      .withColumn("walk", explode(array((0 until walksPerNode).map(lit): _*)))
      .withColumn("node", col("start"))

  /** The walks' output rows (start, walk, step, node) of step `t`. */
  private def stepRows(cur: DataFrame, t: Int): DataFrame =
    cur.select(col("start"), col("walk"), lit(t).as("step"), col("node"))

  /** The portable LCG priority of candidate `dst` at step `t` of walk
    * (start, walk), salted by `seed`. The salt must multiply the
    * PER-CANDIDATE term (added as a constant it shifts every candidate
    * equally and the argmin never changes), and that multiplier must be
    * large enough that one candidate step crosses a mod boundary —
    * otherwise the argmin degenerates to "smallest neighbor" for every
    * seed. Products are double-modded so arbitrary int64 node ids cannot
    * overflow: (id % P)·(m % P) ≤ (P-1)² < 2⁶³, identical arithmetic on
    * the DuckDB side. */
  private def walkHash(seed: Long, t: Int, dst: Column): Column = {
    val P = 2147483647L
    val dstMult = (2654435761L +
      java.lang.Math.floorMod(seed, 65536L) * 32452843L) % P
    ((col("start") % P) * lit(1103515245L) % P +
      col("walk") * lit(12345L) + lit(t.toLong) * lit(97003L) +
      (dst % P) * lit(dstMult) % P) % P
  }

  /** Bounded EARLIEST-ARRIVAL reachability over a TEMPORAL edge list —
    * time-respecting paths (Wu, Cheng, Huang, Ke, Lu 2014, the
    * earliest-arrival single-source problem): an edge (u, v, t) is
    * traversable only if the walk reaches u at or before t, and the
    * answer per node is the minimum achievable arrival time. This is the
    * influence/contact-propagation primitive on a behavioral graph:
    * "starting from these accounts at time t₀, whom could activity have
    * reached, and when?" — NOT plain reachability (a path through a
    * too-early edge does not count).
    *
    * Synchronous relaxation, CHANGED-FRONTIER pruned: [[relaxMin]], the
    * loop of [[ssspBounded]], with an edge (u, v, t) offering v the
    * arrival t when t ≥ arrival(u) and nothing otherwise — the
    * Bellman-Ford shape with the time-window predicate added, so the
    * 10⁹-edge cost profile is identical to [[ssspBounded]].
    *
    * @param tEdges (src, dst, t) directed temporal edges, integer times;
    *               pass both directions for undirected contact graphs.
    * @param seeds  single-column `node`, active from `startTime`.
    * @param rounds max temporal hops.
    * @return DataFrame(node, arrival) — minimum arrival time within
    *         `rounds` hops; seeds at `startTime`. */
  def earliestArrival(tEdges: DataFrame, seeds: DataFrame, rounds: Int,
                      startTime: Long = 0L): DataFrame = {
    require(rounds >= 0, s"rounds must be >= 0, got $rounds")
    withAdjacency(tEdges.select(col("src"), col("dst"), col("t"))) { e =>
      relaxMin(e, seeds.select(col("node")).distinct()
          .withColumn("arrival", lit(startTime)), rounds)(
        when(col("t") >= col("arrival"), col("t")))
    }
  }

  /** NODE2VEC-style BIASED walk corpus (Grover, Leskovec 2016): like
    * [[randomWalks]], but the step distribution is 2nd-order Markov —
    * each candidate's priority depends on its relation to the PREVIOUS
    * node: `retPermille` weights returning to it, `inPermille` weights
    * moving to one of its neighbors (BFS-like, node2vec's 1/1), and
    * `outPermille` weights moving further away (DFS-like, 1/q). The
    * deterministic integer analog of weighted sampling: candidate
    * priority = hash div weight (the A-ES u^(1/w) trick in integers —
    * a larger weight shrinks the priority range, so the argmin picks it
    * proportionally more often), bit-reproducible across engines. Step 1
    * has no previous node and falls back to the unbiased hash.
    *
    * Scale shape: identical to [[randomWalks]] (constant frontier, one
    * join + combinable argmin per step) plus one LEFT SEMI-shaped probe
    * per step — the (prev, candidate) adjacency test — implemented as a
    * left join against the same partitioned edge table, so each step is
    * two co-partitioned joins, still no Window and no array payloads.
    *
    * @return DataFrame(start, walk, step, node). */
  def biasedWalks(edges: DataFrame, length: Int, walksPerNode: Int,
                  retPermille: Long, inPermille: Long, outPermille: Long,
                  seed: Long = 7L): DataFrame = {
    require(length >= 0, s"length must be >= 0, got $length")
    require(walksPerNode >= 1, s"walksPerNode must be >= 1, got $walksPerNode")
    require(retPermille > 0 && inPermille > 0 && outPermille > 0,
      "weights must be positive")
    withAdjacency(symmetrize(edges)) { sym =>
      // adjacency probe side: marker rows for the (prev, dst) test
      val adj = sym.select(col("src").as("p_src"), col("dst").as("p_dst"))
        .withColumn("is_adj", lit(1))
      var cur = walkStarts(sym, walksPerNode)
        .withColumn("prev", lit(null).cast(sym.schema("src").dataType))
        .localCheckpoint(true)
      var acc = stepRows(cur, 0)
      for (t <- 1 to length) {
        val h = walkHash(seed, t, sym("dst"))
        val w = when(col("prev").isNull, lit(1000L))
          .when(sym("dst") === col("prev"), lit(retPermille))
          .when(col("is_adj").isNotNull, lit(inPermille))
          .otherwise(lit(outPermille))
        // integer h div w without float hazards: the numerator is an exact
        // multiple, so the double division is exactly representable and the
        // cast equals the oracle's `//`
        val pr = ((h - h % w) / w).cast("long")
        cur = cur.join(sym, cur("node") === sym("src"))
          .join(adj, col("prev") === col("p_src") &&
            sym("dst") === col("p_dst"), "left_outer")
          .groupBy(col("start"), col("walk"))
          .agg(min(struct(pr.as("pr"), sym("dst").as("d"),
            col("node").as("c"))).as("m"))
          .select(col("start"), col("walk"), col("m.d").as("node"),
            col("m.c").as("prev"))
          .localCheckpoint(true)
        acc = acc.unionByName(stepRows(cur, t))
      }
      acc
    }
  }

  /** Bounded TRANSITIVE CLOSURE of a DIRECTED edge list with minimum hop
    * distances — the SPARQL 1.1 property-path `p+` evaluator (and the
    * RDFS subClassOf/subPropertyOf closure engine): every (src, dst) pair
    * connected by a directed path of ≤ `maxDepth` hops, labeled with its
    * shortest hop count.
    *
    * Evaluation is SEMI-NAIVE (the classic datalog optimization):
    * [[frontierBfs]] keyed on the origin `src`, started from the edges
    * themselves at hop 1, extends only the LAST round's new pairs by one
    * edge and anti-joins the settled set, so a pair reachable along many
    * paths is expanded exactly once — the naive fixpoint re-derives every
    * pair every round and explodes on dense graphs. Rounds are ≤ maxDepth
    * and the loop short-circuits when a frontier comes back empty (a DAG
    * closes in diameter rounds regardless of the cap). Cycles are safe: a
    * pair rediscovered around a loop is dropped by the anti-join, and as
    * no hop-0 (src, src) row is settled, a cycle back to its origin is
    * still reported.
    *
    * The DuckDB oracle is the NAIVE recursive CTE (UNION-dedup on
    * (src, dst, d), depth-capped) aggregated to min(d) — the hash match
    * proves the semi-naive pruning lossless.
    *
    * @param edges directed (src, dst); duplicates collapse.
    * @param maxDepth inclusive path-length cap, >= 1.
    * @return DataFrame(src, dst, dist), dist ∈ [1, maxDepth]; self-pairs
    *         appear only when a directed cycle returns to the origin. */
  def transitiveClosure(edges: DataFrame, maxDepth: Int): DataFrame = {
    require(maxDepth >= 1, s"maxDepth must be >= 1, got $maxDepth")
    withAdjacency(edges.select(col("src"), col("dst")).distinct()) { e =>
      frontierBfs(e, e.select(col("src"), col("dst").as("node"), lit(1).as("dist")),
          Seq("src"), 2 to maxDepth)._1
        .select(col("src"), col("node").as("dst"), col("dist"))
    }
  }

  /** MINED-RULE APPLICATION — the data-driven half of the KG-completion
    * loop: consume the Horn-rule miner's OUTPUT TABLE (pred_a, pred_b,
    * pred_head, n_pairs, conf_permille — the schema of
    * [[graft.Queries.kgRulesOf]], itself the AMIE-style chain-2 miner),
    * keep every rule above the support/confidence gates, and materialize
    * all edges those rules predict that the graph does not contain. This
    * closes mining → application without a human pinning patterns
    * (contrast [[BgpMatcher.construct]], which applies ONE hand-written
    * rule): the whole gated rule set is applied in a single pass.
    *
    * Plan shape at a billion edges: the chain-2 grounding join is ONE
    * self-join of the edge set on the shared node (the same join the
    * miner ran); the gated rule table is at most |preds|³ rows, so it
    * BROADCASTS onto the raw chain BEFORE deduplication — groundings of
    * non-rule predicate pairs are pruned pre-shuffle. The groupBy that
    * dedups groundings (taking the max confidence when several rules
    * predict the same edge) keys on the full triple, and the final
    * NOT-EXISTS anti-join reuses exactly that partitioning — one
    * self-join + one shuffle + one co-partitioned anti-join total.
    *
    * @param edges triple table (subj, pred, obj); duplicates collapse.
    * @param rules miner output (pred_a, pred_b, pred_head, n_pairs,
    *              conf_permille); extra columns are ignored.
    * @param minConfPermille keep rules with conf_permille >= this.
    * @param minPairs keep rules with body support n_pairs >= this
    *                 (low-support rules have unreliable confidence —
    *                 AMIE's head-coverage gate plays the same role).
    * @return DataFrame(subj, pred, obj, conf_permille): predicted edges
    *         absent from `edges`, each with the best confidence among
    *         the gated rules that predict it. */
  def applyMinedRules(edges: DataFrame, rules: DataFrame,
                      minConfPermille: Int, minPairs: Long): DataFrame = {
    val e = edges.select(col("subj"), col("pred"), col("obj")).distinct()
    val gated = rules
      .filter(col("conf_permille") >= minConfPermille &&
        col("n_pairs") >= minPairs)
      .select(col("pred_a"), col("pred_b"), col("pred_head"),
        col("conf_permille"))
    val chain = e.select(col("pred").as("pred_a"), col("subj").as("x"),
        col("obj").as("mid"))
      .join(e.select(col("pred").as("pred_b"), col("subj").as("mid"),
        col("obj").as("y")), "mid")
    chain.join(broadcast(gated), Seq("pred_a", "pred_b"))
      .groupBy(col("x").as("subj"), col("pred_head").as("pred"),
        col("y").as("obj"))
      .agg(max(col("conf_permille")).as("conf_permille"))
      .join(e, Seq("subj", "pred", "obj"), "left_anti")
  }

  /** SKIP-GRAM co-occurrence counts over a walk corpus — the (center,
    * context) training pairs DeepWalk/node2vec feed to word2vec, grouped
    * to counts (the GloVe-style corpus form: at 10⁹ nodes the raw pair
    * stream is |walks|·length·window rows, while the grouped table is
    * bounded by the distinct co-occurring pairs — and the groupBy is
    * map-side combinable on the walk partitioning). Window is symmetric:
    * each unordered within-window pair contributes one count to BOTH
    * (a, b) and (b, a), matching word2vec's bidirectional context.
    *
    * @param walks  output of [[randomWalks]] (start, walk, step, node).
    * @param window max |step distance| counted as context, >= 1.
    * @return DataFrame(center, context, n_pairs). */
  def walkPairs(walks: DataFrame, window: Int): DataFrame = {
    require(window >= 1, s"window must be >= 1, got $window")
    val a = walks.select(col("start"), col("walk"),
      col("step").as("step_a"), col("node").as("center"))
    val b = walks.select(col("start"), col("walk"),
      col("step").as("step_b"), col("node").as("context"))
    a.join(b, Seq("start", "walk"))
      .filter(col("step_a") =!= col("step_b") &&
        abs(col("step_a") - col("step_b")) <= window)
      .groupBy(col("center"), col("context"))
      .agg(count(lit(1)).as("n_pairs"))
  }
}
