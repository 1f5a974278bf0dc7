package graft

import graft.graph.GraphOps
import org.apache.spark.sql.functions._
import org.scalatest.funsuite.AnyFunSuite

class GraphOpsSpec extends AnyFunSuite {
  implicit lazy val spark: org.apache.spark.sql.SparkSession = TestSpark.spark
  import spark.implicits._

  /** Scala reference of the SAME integer recurrence GraphOps.pageRank
    * runs — plain maps, no Spark: symmetrize, od, r0 = scale div N, then
    * r'(v) = base + d·Σ(r(u) div od(u)) div 1e6 over in-neighbors. */
  private def refPageRank(edges: Seq[(String, String)], iters: Int,
                          d: Long = 850000L,
                          scale: Long = 1000000000000L): Map[String, Long] = {
    val sym = edges.flatMap { case (a, b) => Seq((a, b), (b, a)) }.distinct
    val adj = sym.groupBy(_._1).map { case (k, v) => k -> v.map(_._2) }
    val od = adj.map { case (k, v) => k -> v.length.toLong }
    val n = adj.size.toLong
    val r0 = scale / n
    val base = r0 * (1000000L - d) / 1000000L
    var r = adj.keys.map(_ -> r0).toMap
    for (_ <- 1 to iters) {
      val contrib = sym.groupBy(_._2).map { case (v, ins) =>
        v -> ins.map { case (u, _) => r(u) / od(u) }.sum
      }
      r = contrib.map { case (v, s) => v -> (base + d * s / 1000000L) }
    }
    r
  }

  private def runPageRank(edges: Seq[(String, String)], iters: Int)
      : Map[String, Long] = {
    val df = edges.toDF("src", "dst").repartition(4)
    GraphOps.pageRank(df, iterations = iters)
      .collect().map(r => r.getString(0) -> r.getLong(1)).toMap
  }

  test("pageRank matches the integer reference on a star-plus-path graph") {
    // hub with 3 leaves, one leaf extending into a 2-node tail; the
    // degree spread exercises every od value the recurrence divides by
    val edges = Seq(("hub", "a"), ("hub", "b"), ("hub", "c"),
      ("c", "d"), ("d", "e"))
    val got = runPageRank(edges, iters = 5)
    val want = refPageRank(edges, iters = 5)
    assert(got == want)
    assert(got("hub") > got("a"), "the hub must outrank a degree-1 leaf")
    // truncated mass only ever shrinks the total below the scale
    assert(got.values.sum <= 1000000000000L && got.values.forall(_ > 0))
  }

  test("pageRank is deterministic across runs and edge orderings") {
    val edges = Seq(("x", "y"), ("y", "z"), ("z", "x"), ("z", "w"))
    val a = runPageRank(edges, iters = 5)
    val b = runPageRank(scala.util.Random.shuffle(edges), iters = 5)
    assert(a == b)
    // a 3-cycle plus one pendant: the symmetric cycle nodes x, y tie
    assert(a("x") == a("y"))
  }

  test("pageRank and personalizedPageRank release the edge cache when a " +
    "precondition fails") {
    import org.apache.spark.sql.CacheProbe
    val before = CacheProbe.entries(spark)
    intercept[IllegalArgumentException] {
      GraphOps.pageRank(Seq.empty[(Long, Long)].toDF("src", "dst"))
    }
    assert(CacheProbe.entries(spark) == before, "pageRank left its edge table cached")
    intercept[IllegalArgumentException] {
      GraphOps.personalizedPageRank(Seq((1L, 2L)).toDF("src", "dst"),
        Seq.empty[Long].toDF("node"))
    }
    assert(CacheProbe.entries(spark) == before,
      "personalizedPageRank left its edge table cached")
  }

  test("pageRank iterations=0 returns the uniform init; directed dup edges collapse") {
    // (a,b) and (b,a) in the input must symmetrize to ONE undirected edge
    val got = runPageRank(Seq(("a", "b"), ("b", "a")), iters = 0)
    assert(got == Map("a" -> 500000000000L, "b" -> 500000000000L))
  }

  /** Naive set-based triangle reference: count, per node, the unordered
    * neighbor pairs that are themselves adjacent — halved for the double
    * count. Dumb on purpose; the operator's degree-ordered enumeration
    * must agree exactly. */
  private def refTriangles(edges: Seq[(String, String)]): Map[String, Long] = {
    val sym = edges.flatMap { case (a, b) => Seq((a, b), (b, a)) }
      .filter { case (a, b) => a != b }.distinct
    val adj = sym.groupBy(_._1).map { case (k, v) => k -> v.map(_._2).toSet }
    adj.map { case (n, nbs) =>
      val pairs = nbs.toSeq.combinations(2)
        .count { case Seq(x, y) => adj(x).contains(y) }
      n -> pairs.toLong
    }
  }

  private def runTriangles(edges: Seq[(String, String)]): Map[String, Long] = {
    val df = edges.toDF("src", "dst").repartition(4)
    GraphOps.triangleCounts(df).collect()
      .map(r => r.getString(0) -> r.getLong(1)).toMap
  }

  test("triangleCounts: K4 plus a pendant — 3 per clique node, 0 for the pendant") {
    val k4 = for {
      s <- Seq("a", "b", "c", "d"); t <- Seq("a", "b", "c", "d") if s < t
    } yield (s, t)
    val got = runTriangles(k4 :+ ("d", "e"))
    assert(got == Map("a" -> 3L, "b" -> 3L, "c" -> 3L, "d" -> 3L, "e" -> 0L))
  }

  test("triangleCounts: triangle-free path graph is all zeros") {
    val got = runTriangles(Seq(("a", "b"), ("b", "c"), ("c", "d")))
    assert(got == Map("a" -> 0L, "b" -> 0L, "c" -> 0L, "d" -> 0L))
  }

  test("triangleCounts: degree-ordered enumeration equals the naive reference " +
    "on a seeded random graph with duplicate and reversed input edges") {
    val rnd = new scala.util.Random(20260817L)
    val nodes = (0 until 18).map(i => f"n$i%02d")
    val base = for {
      i <- nodes.indices; j <- (i + 1) until nodes.length
      if rnd.nextDouble() < 0.25
    } yield (nodes(i), nodes(j))
    // adversarial input shape: every edge also reversed, some duplicated —
    // symmetrize must collapse them before orientation
    val edges = base ++ base.map(_.swap) ++ base.take(5)
    assert(runTriangles(edges) == refTriangles(edges))
  }

  test("neighborJaccard: hand-computed star-plus-chord graph, with and without threshold") {
    // a-(b,c,d) star plus chord b-c:
    //   N(a)={b,c,d} N(b)={a,c} N(c)={a,b} N(d)={a}
    val edges = Seq(("a", "b"), ("a", "c"), ("a", "d"), ("b", "c"))
    val df = edges.toDF("src", "dst").repartition(3)
    def asMap(out: org.apache.spark.sql.DataFrame) = out.collect()
      .map(r => (r.getString(0), r.getString(1)) ->
        ((r.getLong(2), r.getLong(3), r.getLong(4)))).toMap
    val all = asMap(GraphOps.neighborJaccard(df))
    assert(all == Map(
      ("a", "b") -> ((1L, 4L, 250L)), // share {c}; union {a,b,c,d}
      ("a", "c") -> ((1L, 4L, 250L)),
      ("b", "c") -> ((1L, 3L, 333L)), // share {a}; union {a,b,c}
      ("b", "d") -> ((1L, 2L, 500L)),
      ("c", "d") -> ((1L, 2L, 500L))))
    // threshold keeps only J >= 0.4; (a,d) shares no neighbor and must
    // never be materialized at any threshold
    val cut = asMap(GraphOps.neighborJaccard(df, minPermille = 400))
    assert(cut.keySet == Set(("b", "d"), ("c", "d")))
  }

  private def runKhop(edges: Seq[(String, String)], seeds: Seq[String],
                      maxHops: Int): Map[String, Int] = {
    val e = edges.toDF("src", "dst").repartition(3)
    val s = seeds.toDF("node")
    GraphOps.khopDistances(e, s, maxHops).collect()
      .map(r => r.getString(0) -> r.getInt(1)).toMap
  }

  test("khopDistances: chain graph — exact hop counts, cutoff at maxHops") {
    val chain = Seq(("a", "b"), ("b", "c"), ("c", "d"), ("d", "e"), ("e", "f"))
    assert(runKhop(chain, Seq("a"), 3) ==
      Map("a" -> 0, "b" -> 1, "c" -> 2, "d" -> 3))
    // maxHops = 0 emits the seeds only
    assert(runKhop(chain, Seq("c"), 0) == Map("c" -> 0))
  }

  test("khopDistances: multi-source takes the MIN distance; disconnected " +
    "nodes and off-graph seeds behave") {
    val g = Seq(("a", "b"), ("b", "c"), ("c", "d"), ("x", "y"))
    // c is 2 from a but 1 from d: the d-side wins
    val got = runKhop(g, Seq("a", "d"), 4)
    assert(got == Map("a" -> 0, "b" -> 1, "c" -> 1, "d" -> 0))
    // a seed absent from the edge list is still emitted at 0 and expands
    // nowhere; the x-y component stays unreached
    assert(runKhop(g, Seq("zzz"), 4) == Map("zzz" -> 0))
  }

  test("perSeedDistances: keyed per seed, no cross-seed min-merge") {
    val chain = Seq(("a", "b"), ("b", "c"), ("c", "d"))
    val got = GraphOps.perSeedDistances(chain.toDF("src", "dst"),
        Seq("a", "c").toDF("node"), maxHops = 2)
      .collect().map(r => (r.getString(0), r.getString(1), r.getInt(2)))
      .toSet
    // khopDistances would settle b at min(1,1)=1 ONCE; here both seeds
    // keep their own row, and a's view of d (3 hops) is cut by the bound
    assert(got == Set(
      ("a", "a", 0), ("a", "b", 1), ("a", "c", 2),
      ("c", "c", 0), ("c", "b", 1), ("c", "d", 1), ("c", "a", 2)))
  }

  test("harmonicCentrality: hand-computed permille sums on the chain") {
    val chain = Seq(("a", "b"), ("b", "c"), ("c", "d"))
    val got = GraphOps.harmonicCentrality(chain.toDF("src", "dst"),
        Seq("a", "c").toDF("node"), maxHops = 2)
      .collect().map(r => (r.getString(0), r.getLong(1), r.getLong(2)))
      .toSet
    // a: only c reaches it (dist 2 -> 500); b: both seeds at 1 (2000);
    // c: a at 2 (500); d: c at 1 (1000), a's 3 hops beyond the bound
    assert(got == Set(("a", 500L, 1L), ("b", 2000L, 2L),
      ("c", 500L, 1L), ("d", 1000L, 1L)))
    // integer division: dist 3 contributes 333 when the bound admits it
    val far = GraphOps.harmonicCentrality(chain.toDF("src", "dst"),
        Seq("a").toDF("node"), maxHops = 3)
      .collect().map(r => (r.getString(0), r.getLong(1))).toMap
    assert(far("d") == 333L)
  }

  test("khopDistances: frontier loop equals the naive whole-set recurrence " +
    "on a seeded random graph") {
    val rnd = new scala.util.Random(20260817L)
    val nodes = (0 until 16).map(i => f"n$i%02d")
    val edges = for {
      i <- nodes.indices; j <- (i + 1) until nodes.length
      if rnd.nextDouble() < 0.15
    } yield (nodes(i), nodes(j))
    // naive reference: d_i(v) = min(d_{i-1}(v), min over nbrs + 1)
    val sym = edges.flatMap { case (a, b) => Seq((a, b), (b, a)) }.distinct
    val adj = sym.groupBy(_._1).map { case (k, v) => k -> v.map(_._2) }
    var ref = Map(nodes.head -> 0)
    for (h <- 1 to 4) {
      val grown = ref.toSeq.flatMap { case (n, d) =>
        (n, d) +: adj.getOrElse(n, Nil).map(_ -> (d + 1))
      }
      ref = grown.groupBy(_._1).map { case (k, v) => k -> v.map(_._2).min }
    }
    assert(runKhop(edges, Seq(nodes.head), 4) == ref)
  }

  /** Plain-Scala synchronous LPA reference: adopt the most frequent
    * neighbor label, min label on ties — the recurrence the operator and
    * the DuckDB oracle both run. */
  private def refLabelProp(edges: Seq[(String, String)], iters: Int)
      : Map[String, String] = {
    val sym = edges.flatMap { case (a, b) => Seq((a, b), (b, a)) }
      .filter { case (a, b) => a != b }.distinct
    val adj = sym.groupBy(_._1).map { case (k, v) => k -> v.map(_._2) }
    var l = adj.keys.map(k => k -> k).toMap
    for (_ <- 1 to iters) {
      l = adj.map { case (n, nbs) =>
        val counts = nbs.map(l).groupBy(identity)
          .map { case (lab, xs) => (lab, xs.size) }
        n -> counts.minBy { case (lab, c) => (-c, lab) }._1
      }
    }
    l
  }

  private def runLabelProp(edges: Seq[(String, String)], iters: Int)
      : Map[String, String] = {
    val df = edges.toDF("src", "dst").repartition(3)
    GraphOps.labelPropagate(df, iters).collect()
      .map(r => r.getString(0) -> r.getString(1)).toMap
  }

  test("labelPropagate: two triangles joined by one bridge settle into two " +
    "communities; connected components would merge them") {
    val tri1 = Seq(("a1", "a2"), ("a2", "a3"), ("a1", "a3"))
    val tri2 = Seq(("b1", "b2"), ("b2", "b3"), ("b1", "b3"))
    val got = runLabelProp(tri1 ++ tri2 :+ ("a3", "b1"), iters = 3)
    assert(got == refLabelProp(tri1 ++ tri2 :+ ("a3", "b1"), 3))
    assert(Set("a1", "a2", "a3").map(got) != Set("b2", "b3").map(got),
      "the bridge must not merge the two triangles into one label set")
  }

  test("labelPropagate matches the synchronous reference on a seeded random " +
    "graph and plans WITHOUT a Window operator") {
    val rnd = new scala.util.Random(42L)
    val nodes = (0 until 14).map(i => f"m$i%02d")
    val edges = for {
      i <- nodes.indices; j <- (i + 1) until nodes.length
      if rnd.nextDouble() < 0.3
    } yield (nodes(i), nodes(j))
    assert(runLabelProp(edges, 3) == refLabelProp(edges, 3))
    val plan = GraphOps.labelPropagate(edges.toDF("src", "dst"), 1)
      .queryExecution.executedPlan.toString
    assert(!plan.contains("Window"),
      s"LPA argmax must stay window-free (min(struct)): $plan")
  }

  test("labelPropagate: iterations=0 returns self-labels; self-loops ignored") {
    val got = runLabelProp(Seq(("a", "b"), ("a", "a")), 0)
    assert(got == Map("a" -> "a", "b" -> "b"))
  }

  /** Plain-Scala reference for the bounded k-core peel: r synchronous
    * rounds of "drop degree < k", returning survivor -> residual degree. */
  private def refKCore(edges: Seq[(String, String)], k: Int, rounds: Int)
      : Map[String, Int] = {
    var sym = edges.flatMap { case (a, b) => Seq((a, b), (b, a)) }
      .filter { case (a, b) => a != b }.distinct
    for (_ <- 1 to rounds) {
      val deg = sym.groupBy(_._1).map { case (n, v) => n -> v.size }
      val keep = deg.filter(_._2 >= k).keySet
      sym = sym.filter { case (a, b) => keep(a) && keep(b) }
    }
    sym.groupBy(_._1).map { case (n, v) => n -> v.size }
  }

  private def runKCore(edges: Seq[(String, String)], k: Int, rounds: Int)
      : Map[String, Int] = {
    val df = edges.toDF("src", "dst").repartition(3)
    GraphOps.kCorePeel(df, k, rounds).collect()
      .map(r => r.getString(0) -> r.getLong(1).toInt).toMap
  }

  test("kCorePeel: pendant chain peels off a triangle core; cascade needs " +
    "multiple rounds") {
    // triangle (a,b,c) + chain c-d-e: 2-core = the triangle, but d only
    // drops after e does — a genuine cascade
    val g = Seq(("a", "b"), ("b", "c"), ("a", "c"), ("c", "d"), ("d", "e"))
    assert(runKCore(g, k = 2, rounds = 1) ==
      Map("a" -> 2, "b" -> 2, "c" -> 3, "d" -> 1)) // e gone, d not yet
    assert(runKCore(g, k = 2, rounds = 3) ==
      Map("a" -> 2, "b" -> 2, "c" -> 2))
    assert(runKCore(g, k = 2, rounds = 3) == refKCore(g, 2, 3))
  }

  test("kCorePeel: short-circuit at stability equals running every round; " +
    "k above max degree empties the graph") {
    val rnd = new scala.util.Random(7L)
    val nodes = (0 until 15).map(i => f"k$i%02d")
    val edges = for {
      i <- nodes.indices; j <- (i + 1) until nodes.length
      if rnd.nextDouble() < 0.25
    } yield (nodes(i), nodes(j))
    // rounds=20 certainly reaches the fixpoint; the reference runs all 20
    // literally, the engine short-circuits — results must agree
    assert(runKCore(edges, 3, 20) == refKCore(edges, 3, 20))
    assert(runKCore(edges, 100, 5).isEmpty)
  }

  test("linkPredict: RA index on the hub-vs-leaf example; adjacent pairs " +
    "excluded") {
    // z is a hub of degree 4 joining (a, b); w has degree 2 joining (a, c).
    // RA discounts the hub: score(a,c) > score(a,b) though both share 1 —
    // use minCommon = 1 to see both
    val g = Seq(("z", "a"), ("z", "b"), ("z", "c2"), ("z", "d2"),
      ("w", "a"), ("w", "c"), ("a", "b"))
    val got = GraphOps.linkPredict(g.toDF("src", "dst"), minCommon = 1)
      .collect().map(r => (r.getString(0), r.getString(1)) ->
        ((r.getLong(2), r.getLong(3)))).toMap
    // (a, b) adjacent -> excluded despite sharing z
    assert(!got.contains(("a", "b")))
    assert(got(("a", "c")) == ((1L, 500000000L))) // via w, deg(w)=2
    // b-c2 share hub z (deg 4): 1e9 div 4
    assert(got(("b", "c2")) == ((1L, 250000000L)))
    assert(got(("a", "c"))._2 > got(("b", "c2"))._2,
      "RA must rank the low-degree witness above the hub")
  }

  /** Plain-Scala integer PPR reference — the exact engine recurrence. */
  private def refPpr(edges: Seq[(String, String)], seeds: Set[String],
                     iters: Int): Map[String, Long] = {
    val sym = edges.flatMap { case (a, b) => Seq((a, b), (b, a)) }.distinct
    val adj = sym.groupBy(_._1).map { case (k, v) => k -> v.map(_._2) }
    val od = adj.map { case (k, v) => k -> v.size }
    val scale = 1000000000000L; val damp = 850000L
    val r0 = scale / seeds.size
    val base = r0 * (1000000L - damp) / 1000000L
    var r: Map[String, Long] = seeds.map(_ -> r0).toMap
    for (_ <- 1 to iters) {
      val contrib = r.toSeq.flatMap { case (u, ru) =>
        adj.getOrElse(u, Nil).map(_ -> ru / od(u))
      }.groupBy(_._1).map { case (v, xs) =>
        v -> (damp * xs.map(_._2).sum) / 1000000L
      }
      val dom = contrib.keySet ++ seeds
      r = dom.map(v => v ->
        (contrib.getOrElse(v, 0L) + (if (seeds(v)) base else 0L))).toMap
    }
    r
  }

  test("personalizedPageRank: matches the integer reference; domain grows " +
    "like a BFS frontier from the seed") {
    val chain = Seq(("a", "b"), ("b", "c"), ("c", "d"), ("d", "e"))
    val seeds = Seq("a").toDF("node")
    def run(iters: Int): Map[String, Long] =
      GraphOps.personalizedPageRank(chain.toDF("src", "dst"), seeds, iters)
        .collect().map(r => r.getString(0) -> r.getLong(1)).toMap
    val got2 = run(2)
    assert(got2 == refPpr(chain, Set("a"), 2))
    // 2 iterations reach only 2 hops: e (3 hops away) absent
    assert(!got2.contains("e") && got2.contains("c"))
    assert(run(4) == refPpr(chain, Set("a"), 4))
  }

  test("personalizedPageRank: multi-seed split and seeded-random-graph " +
    "reference equality") {
    val rnd = new scala.util.Random(99L)
    val nodes = (0 until 12).map(i => f"p$i%02d")
    val edges = for {
      i <- nodes.indices; j <- (i + 1) until nodes.length
      if rnd.nextDouble() < 0.3
    } yield (nodes(i), nodes(j))
    val seedSet = Set(nodes.head, nodes.last)
    val got = GraphOps.personalizedPageRank(edges.toDF("src", "dst"),
        seedSet.toSeq.toDF("node"), iterations = 3)
      .collect().map(r => r.getString(0) -> r.getLong(1)).toMap
    assert(got == refPpr(edges, seedSet, 3))
  }

  /** Plain-Scala naive Bellman-Ford reference: the whole-set recurrence
    * the DuckDB oracle unrolls. */
  private def refSssp(wEdges: Seq[(String, String, Long)], sources: Set[String],
                      rounds: Int): Map[String, Long] = {
    var d: Map[String, Long] = sources.map(_ -> 0L).toMap
    for (_ <- 1 to rounds) {
      val relaxed = d.toSeq.flatMap { case (u, du) =>
        wEdges.filter(_._1 == u).map { case (_, v, w) => v -> (du + w) }
      }
      d = (d.toSeq ++ relaxed).groupBy(_._1)
        .map { case (n, xs) => n -> xs.map(_._2).min }
    }
    d
  }

  private def runSssp(wEdges: Seq[(String, String, Long)], sources: Seq[String],
                      rounds: Int): Map[String, Long] = {
    val e = wEdges.toDF("src", "dst", "w").repartition(3)
    GraphOps.ssspBounded(e, sources.toDF("node"), rounds).collect()
      .map(r => r.getString(0) -> r.getLong(1)).toMap
  }

  test("ssspBounded: a longer-hop lighter path beats the direct heavy edge " +
    "once rounds allow it") {
    // a -10-> c direct, but a -1-> b -1-> c: 1 round sees 10, 2 rounds 2
    val g = Seq(("a", "c", 10L), ("a", "b", 1L), ("b", "c", 1L))
    assert(runSssp(g, Seq("a"), 1) == Map("a" -> 0L, "b" -> 1L, "c" -> 10L))
    assert(runSssp(g, Seq("a"), 2) == Map("a" -> 0L, "b" -> 1L, "c" -> 2L))
    // rounds=0: sources only
    assert(runSssp(g, Seq("a"), 0) == Map("a" -> 0L))
  }

  test("ssspBounded: changed-frontier pruning equals the naive whole-set " +
    "recurrence on a seeded random weighted digraph; short-circuit holds") {
    val rnd = new scala.util.Random(314L)
    val nodes = (0 until 14).map(i => f"s$i%02d")
    val wEdges = for {
      i <- nodes.indices; j <- nodes.indices
      if i != j && rnd.nextDouble() < 0.18
    } yield (nodes(i), nodes(j), (rnd.nextInt(9) + 1).toLong)
    val seeds = Set(nodes.head)
    assert(runSssp(wEdges, seeds.toSeq, 4) == refSssp(wEdges, seeds, 4))
    // far more rounds than the diameter: engine short-circuits at the
    // fixpoint, the literal reference keeps running — results must agree
    assert(runSssp(wEdges, seeds.toSeq, 25) == refSssp(wEdges, seeds, 25))
  }

  test("graphStats: K4 plus a pendant — exact counts and clustering ppm") {
    val k4 = for {
      i <- 0 until 4; j <- (i + 1) until 4
    } yield (s"v$i", s"v$j")
    val g = k4 :+ ("v3", "p")
    val row = GraphOps.graphStats(g.toDF("src", "dst")).collect().head
    // 5 nodes, 7 edges; degrees 3,3,3,4,1 -> wedges 3+3+3+6+0 = 15;
    // K4 holds 4 triangles; gcc = 12/15 = 800000 ppm
    assert(row.getLong(0) == 5L && row.getLong(1) == 7L)
    assert(row.getLong(2) == 4L && row.getLong(3) == 15L)
    assert(row.getLong(4) == 4L && row.getLong(5) == 800000L)
  }

  /** Naive whole-set earliest-arrival recurrence — no frontier pruning. */
  private def refArrival(edges: Seq[(Long, Long, Long)], seed: Long,
                         rounds: Int, t0: Long = 0L): Map[Long, Long] = {
    var d = Map(seed -> t0)
    for (_ <- 1 to rounds) {
      val relaxed = edges.flatMap { case (u, v, t) =>
        d.get(u).filter(t >= _).map(_ => v -> t)
      }
      d = (d.toSeq ++ relaxed).groupBy(_._1)
        .map { case (k, vs) => k -> vs.map(_._2).min }
    }
    d
  }

  private def runArrival(edges: Seq[(Long, Long, Long)], seed: Long,
                         rounds: Int): Map[Long, Long] =
    GraphOps.earliestArrival(edges.toDF("src", "dst", "t"),
        Seq(seed).toDF("node"), rounds)
      .collect().map(r => r.getLong(0) -> r.getLong(1)).toMap

  test("earliestArrival: a too-early edge does NOT propagate") {
    // 1 -(t=5)-> 2 -(t=3)-> 3: node 3 is unreachable in time order;
    // 2 -(t=7)-> 4 IS reachable (7 >= arrival(2) = 5)
    val e = Seq((1L, 2L, 5L), (2L, 3L, 3L), (2L, 4L, 7L))
    val got = runArrival(e, seed = 1L, rounds = 4)
    assert(got == Map(1L -> 0L, 2L -> 5L, 4L -> 7L))
  }

  test("earliestArrival: a LATER but time-valid path beats no path") {
    // direct edge too early after the detour? seed at 0: both paths valid;
    // earliest arrival takes the min t per node across paths
    val e = Seq((1L, 2L, 10L), (1L, 3L, 2L), (3L, 2L, 4L))
    val got = runArrival(e, seed = 1L, rounds = 4)
    // node 2: direct at t=10 vs via 3 (arrive 2, then t=4 >= 2) -> 4
    assert(got(2L) == 4L && got(3L) == 2L)
  }

  test("earliestArrival equals the naive recurrence (pruning lossless)") {
    // denser temporal graph incl. a cycle and re-improvement chances
    val e = Seq((1L, 2L, 3L), (2L, 3L, 5L), (3L, 1L, 6L), (1L, 3L, 9L),
      (3L, 4L, 7L), (4L, 2L, 8L), (2L, 4L, 4L), (4L, 5L, 1L))
    for (r <- 0 to 5)
      assert(runArrival(e, 1L, r) == refArrival(e, 1L, r), s"rounds=$r")
  }

  test("nodeDegrees: distinct-neighbor degree and doc support from the rollup") {
    val rollup = Seq(
      ("a", "p1", "b", 3L), ("a", "p2", "b", 2L), // multi-pred: same pair
      ("a", "p1", "c", 1L)
    ).toDF("subj", "pred", "obj", "n_docs").repartition(3)
    val got = GraphOps.nodeDegrees(rollup).collect()
      .map(r => r.getString(0) -> ((r.getLong(1), r.getLong(2)))).toMap
    assert(got == Map(
      "a" -> ((2L, 6L)), // neighbors {b, c}; support 3+2+1
      "b" -> ((1L, 5L)),
      "c" -> ((1L, 1L))))
  }

  /** Plain-Scala ANF — exact ball sets, bottom-k truncation with the
    * SAME LCG hash, same exact-vs-KMV estimate switch. */
  private def refNf(edges: Seq[(Long, Long)], rounds: Int, k: Int)
      : Map[Long, (Long, Long)] = {
    import graft.operators.Dedup.{HashA, HashB, HashP}
    def h(v: Long) = (HashA(17) * v + HashB(17)) % HashP
    val sym = edges.flatMap(e => Seq(e, e.swap)).distinct
      .filter(e => e._1 != e._2)
    val adj = sym.groupBy(_._1).map { case (kk, v) => kk -> v.map(_._2) }
    var sketch: Map[Long, Set[Long]] =
      adj.keys.map(v => v -> Set(h(v))).toMap
    for (_ <- 1 to rounds)
      sketch = adj.keys.map { v =>
        v -> (sketch(v) ++ adj(v).flatMap(sketch))
          .toSeq.sorted.take(k).toSet
      }.toMap
    sketch.map { case (v, s) =>
      v -> (if (s.size < k) (s.size.toLong, s.size.toLong)
            else (((k - 1) * HashP) / s.max, s.size.toLong))
    }
  }

  private def runNf(edges: Seq[(Long, Long)], rounds: Int, k: Int)
      : Map[Long, (Long, Long)] =
    GraphOps.neighborhoodFunction(
        edges.toDF("src", "dst").repartition(4), rounds, k)
      .collect().map(r => r.getLong(0) -> ((r.getLong(1), r.getLong(2))))
      .toMap

  test("neighborhoodFunction: exact ball sizes while under capacity") {
    // P4 path: balls grow 2/3 -> 3/4 -> 4/4; k = 8 holds everything, so
    // the sketch IS the ball and the estimate is exact
    val p4 = Seq((1L, 2L), (2L, 3L), (3L, 4L))
    assert(runNf(p4, 1, 8).view.mapValues(_._1).toMap ==
      Map(1L -> 2L, 2L -> 3L, 3L -> 3L, 4L -> 2L))
    assert(runNf(p4, 2, 8).view.mapValues(_._1).toMap ==
      Map(1L -> 3L, 2L -> 4L, 3L -> 4L, 4L -> 3L))
    assert(runNf(p4, 3, 8).view.mapValues(_._1).toMap ==
      Map(1L -> 4L, 2L -> 4L, 3L -> 4L, 4L -> 4L))
  }

  test("neighborhoodFunction equals the plain-Scala sketch reference " +
    "when truncation kicks in") {
    val edges = (0 until 80).map { i =>
      val a = (i * 2654435761L) % 19
      val b = (i * 40503L + 7) % 19
      (a, if (a == b) (b + 1) % 19 else b)
    }.distinct
    for ((r, k) <- Seq((1, 4), (2, 4), (3, 6)))
      assert(runNf(edges, r, k) == refNf(edges, r, k),
        s"rounds=$r k=$k diverged")
  }

  test("neighborhoodFunction: 10³-neighbor hub equals the reference " +
    "(two-phase bottom-k is lossless under hub skew)") {
    // star with a 1000-degree hub plus a ring so non-hub sketches differ
    val hub = (1L to 1000L).map(i => (0L, i))
    val ring = (1L to 999L).map(i => (i, i + 1))
    val edges = hub ++ ring
    for ((r, k) <- Seq((1, 4), (2, 8)))
      assert(runNf(edges, r, k) == refNf(edges, r, k),
        s"hub graph rounds=$r k=$k diverged")
  }

  test("bottomKPerNode plans NO Window and matches a row_number twin") {
    import org.apache.spark.sql.expressions.Window
    val rows = (0 until 500).map { i =>
      ((i % 7).toLong, (i * 2654435761L) % 1013) }.distinct
      .toDF("node", "h")
    val got = GraphOps.bottomKPerNode(rows, k = 5, salts = 16)
    assert(!got.queryExecution.executedPlan.toString.contains("Window"),
      "two-phase bottom-k must stay window-free")
    val twin = rows.withColumn("rn", row_number().over(
        Window.partitionBy(col("node")).orderBy(col("h"))))
      .filter(col("rn") <= 5).select(col("node"), col("h"))
    assert(got.collect().map(r => (r.getLong(0), r.getLong(1))).toSet ==
      twin.collect().map(r => (r.getLong(0), r.getLong(1))).toSet)
  }

  /** Plain-Scala sampled Brandes — same BFS σ sums, same fixed-point
    * backward recurrence σv·(scale+δw)/σw with integer division. */
  private def refBetweenness(edges: Seq[(Long, Long)], seeds: Seq[Long],
                             maxHops: Int, scale: Long = 1000000L)
      : Map[Long, (Long, Long)] = {
    val sym = edges.flatMap(e => Seq(e, e.swap)).distinct
      .filter(e => e._1 != e._2)
    val adj = sym.groupBy(_._1).map { case (k, v) => k -> v.map(_._2) }
    val acc = scala.collection.mutable.Map[Long, (Long, Long)]()
    for (s <- seeds if adj.contains(s)) {
      var dist = Map(s -> 0)
      var sigma = Map(s -> 1L)
      var frontier = Seq(s)
      for (h <- 1 to maxHops) {
        val reached = frontier.flatMap(adj(_)).distinct
          .filterNot(dist.contains)
        sigma = sigma ++ reached.map(v =>
          v -> adj(v).filter(u => dist.get(u).contains(h - 1))
            .map(sigma).sum)
        dist = dist ++ reached.map(_ -> h)
        frontier = reached
      }
      var delta = dist.filter(_._2 == maxHops).keys
        .map(_ -> 0L).toMap
      for (l <- (maxHops - 1) to 0 by -1) {
        delta = delta ++ dist.filter(_._2 == l).keys.map { v =>
          v -> adj(v).filter(w => dist.get(w).contains(l + 1))
            .map(w => sigma(v) * (scale + delta(w)) / sigma(w)).sum
        }
      }
      for ((v, d) <- delta if v != s) {
        val (b, n) = acc.getOrElse(v, (0L, 0L))
        acc(v) = (b + d, n + 1)
      }
    }
    acc.toMap
  }

  private def runBetweenness(edges: Seq[(Long, Long)], seeds: Seq[Long],
                             maxHops: Int): Map[Long, (Long, Long)] = {
    import spark.implicits._
    GraphOps.betweenness(edges.toDF("src", "dst").repartition(4),
        seeds.toDF("node"), maxHops)
      .collect().map(r => r.getLong(0) -> ((r.getLong(1), r.getLong(2))))
      .toMap
  }

  test("betweenness: P3 bridge gets the full pair dependency") {
    // seed a over a-b-c: δ(b) = 1·(1e6+0)/1 = 1e6 (b sits on the one
    // a->c shortest path), δ(c) = 0
    val got = runBetweenness(Seq((1L, 2L), (2L, 3L)), Seq(1L), maxHops = 3)
    assert(got == Map(2L -> ((1000000L, 1L)), 3L -> ((0L, 1L))))
  }

  test("betweenness: diamond splits the dependency over two paths") {
    // a-b-d and a-c-d: σ(d) = 2, so b and c each carry 1e6/2
    val diamond = Seq((1L, 2L), (1L, 3L), (2L, 4L), (3L, 4L))
    val got = runBetweenness(diamond, Seq(1L), maxHops = 3)
    assert(got == Map(2L -> ((500000L, 1L)), 3L -> ((500000L, 1L)),
      4L -> ((0L, 1L))))
  }

  test("betweenness equals the plain-Scala reference on a seeded graph") {
    val edges = (0 until 80).map { i =>
      val a = (i * 2654435761L) % 19
      val b = (i * 40503L + 7) % 19
      (a, if (a == b) (b + 1) % 19 else b)
    }.distinct
    val seeds = (0L until 19L).filter(_ % 3 == 0)
    for (h <- 1 to 3)
      assert(runBetweenness(edges, seeds, h) ==
        refBetweenness(edges, seeds, h), s"maxHops=$h diverged")
  }

  /** Plain-Scala Luby MIS — same per-round LCG draws, same encoded
    * (priority, id) min, same isolated-join rule. */
  private def refMis(edges: Seq[(Long, Long)], rounds: Int,
                     hashIdx: Int = 9,
                     stride: Long = 10000000L): Set[(Long, Int)] = {
    import graft.operators.Dedup.{HashA, HashB, HashP}
    def enc(i: Int, v: Long) =
      ((HashA((hashIdx + i) % 64) * v + HashB((hashIdx + i) % 64)) % HashP) *
        stride + v
    var cur = edges.flatMap(e => Seq(e, e.swap)).distinct
      .filter(e => e._1 != e._2).toSet
    var und = cur.map(_._1)
    var mis = Set.empty[(Long, Int)]
    var r = 0
    while (r < rounds && und.nonEmpty) {
      r += 1
      val withE = cur.map(_._1)
      val iso = und -- withE
      val win = withE.filter(v =>
        enc(r, v) < cur.filter(_._1 == v).map(e => enc(r, e._2)).min)
      val joined = win ++ iso
      mis ++= joined.map((_, r))
      val losers = cur.filter(e => win(e._1)).map(_._2)
      und = und -- joined -- losers
      cur = cur.filter(e => und(e._1) && und(e._2))
    }
    mis
  }

  test("lubyMis: reference-equal, independent and maximal on seeded graphs") {
    val graphs = Seq(
      Seq((1L, 2L), (2L, 3L), (1L, 3L)),                      // triangle
      Seq((1L, 2L), (1L, 3L), (1L, 4L), (1L, 5L)),            // star
      (0 until 80).map { i =>
        val a = (i * 2654435761L) % 19
        val b = (i * 40503L + 7) % 19
        (a, if (a == b) (b + 1) % 19 else b)
      }.distinct)
    for (edges <- graphs) {
      val got = GraphOps.lubyMis(edges.toDF("src", "dst").repartition(4),
          rounds = 8)
        .collect().map(r => (r.getLong(0), r.getInt(1))).toSet
      assert(got == refMis(edges, 8), s"diverged on $edges")
      val misNodes = got.map(_._1)
      val sym = edges.flatMap(e => Seq(e, e.swap)).filter(e => e._1 != e._2)
      assert(!sym.exists(e => misNodes(e._1) && misNodes(e._2)),
        "MIS must be independent")
      val nodes = sym.map(_._1).toSet
      assert((nodes -- misNodes).forall(v =>
        sym.exists(e => e._1 == v && misNodes(e._2))),
        "MIS must be maximal: every non-member has a member neighbor")
    }
  }

  test("lubyMis: widened stride handles ids beyond the default id space") {
    // ids >= the default 10^7 stride would silently corrupt the encoded
    // (priority, id) tiebreak; with a wide-enough stride the run stays
    // reference-equal. The catalog precondition itself (user ids fit the
    // default stride) is asserted in the test below.
    val base = (0 until 40).map { i =>
      val a = (i * 2654435761L) % 13
      val b = (i * 40503L + 5) % 13
      (a, if (a == b) (b + 1) % 13 else b)
    }.distinct
    val off = 49999997L // pushes every id past the default stride
    val edges = base.map { case (a, b) => (a + off, b + off) }
    val stride = 1000000000L
    val got = GraphOps.lubyMis(edges.toDF("src", "dst").repartition(4),
        rounds = 8, stride = stride)
      .collect().map(r => (r.getLong(0), r.getInt(1))).toSet
    assert(got == refMis(edges, 8, stride = stride))
  }

  test("lubyMis: the catalog's user graph fits the default stride") {
    // the user_mis catalog entry runs lubyMis at the default stride; its
    // node ids are the user-graph vertex ids. Assert the precondition
    // here (once, in the suite) instead of a per-call max(node) action,
    // which would add a full-table aggregation job to every invocation —
    // at every staged scale, up to the sf0.1 the bench runs user_mis on.
    for (sf <- Seq("sf0.001", "sf0.01", "sf0.1")) {
      val edges = graft.Queries.userGraphEdges(spark, s"/root/testdata/$sf")
      val mx = edges.agg(greatest(max(col("src")), max(col("dst")))
        .cast("long")).head.getLong(0)
      assert(mx < 10000000L,
        s"$sf: user-graph ids must fit lubyMis's default stride, max id = $mx")
    }
  }

  test("lubyMis: a starved path end joins through the isolated rule") {
    // build a P3 whose round-1 priorities ASCEND along the path: the low
    // end wins, the middle drops as its neighbor, and the far end — a
    // round-1 loser to the middle — is left edge-less, so it joins as
    // 'isolated' in round 2 (without the rule it would dangle forever,
    // breaking maximality)
    import graft.operators.Dedup.{HashA, HashB, HashP}
    def enc1(v: Long) = ((HashA(10) * v + HashB(10)) % HashP) * 10000000L + v
    val Seq(a, b, c) = (1L to 50L).sortBy(enc1).take(3).toSeq
    val got = GraphOps.lubyMis(Seq((a, b), (b, c)).toDF("src", "dst"),
        rounds = 4)
      .collect().map(r => (r.getLong(0), r.getInt(1))).toSet
    assert(got == Set((a, 1), (c, 2)))
  }

  /** Plain-Scala k-truss peeling — naive per-edge common-neighbor
    * supports, same round structure, same last-round-support output. */
  private def refTruss(edges: Seq[(Long, Long)], k: Int, rounds: Int)
      : Set[(Long, Long, Long)] = {
    def canon(e: (Long, Long)) = (e._1 min e._2, e._1 max e._2)
    var cur = edges.map(canon).filter(e => e._1 != e._2).distinct.toSet
    def sups(s: Set[(Long, Long)]): Map[(Long, Long), Long] = {
      val adj = s.flatMap(e => Seq(e, e.swap)).groupBy(_._1)
        .map { case (n, es) => n -> es.map(_._2) }
      s.map(e => e -> adj(e._1).intersect(adj(e._2)).size.toLong).toMap
    }
    var sup = sups(cur)
    var r = 0
    var stable = false
    while (r < rounds && !stable) {
      r += 1
      if (r > 1) sup = sups(cur)
      val next = sup.filter(_._2 >= k - 2).keySet
      stable = next == cur
      cur = next
    }
    sup.filter(_._2 >= k - 2).map { case ((a, b), s) => (a, b, s) }.toSet
  }

  private def runTruss(edges: Seq[(Long, Long)], k: Int, rounds: Int)
      : Set[(Long, Long, Long)] =
    GraphOps.kTrussPeel(edges.toDF("src", "dst").repartition(4), k, rounds)
      .collect().map(r => (r.getLong(0), r.getLong(1), r.getLong(2))).toSet

  test("kTrussPeel: K4 core survives, a pendant triangle peels off") {
    val k4 = Seq((1L, 2L), (1L, 3L), (1L, 4L), (2L, 3L), (2L, 4L), (3L, 4L))
    val pendantTri = Seq((4L, 5L), (4L, 6L), (5L, 6L))
    val got = runTruss(k4 ++ pendantTri, k = 4, rounds = 3)
    // every K4 edge closes 2 triangles inside K4; the pendant triangle's
    // edges close exactly 1 -> dropped in round 1
    assert(got == k4.map { case (a, b) => (a, b, 2L) }.toSet)
  }

  test("kTrussPeel: diamond cascades to empty; one round stops mid-peel") {
    // K4 minus (3,4): the support-1 edges die in round 1, which starves
    // (1,2) (support 2 in round 1!) -> it dies in round 2
    val diamond = Seq((1L, 2L), (1L, 3L), (1L, 4L), (2L, 3L), (2L, 4L))
    assert(runTruss(diamond, k = 4, rounds = 3).isEmpty)
    assert(runTruss(diamond, k = 4, rounds = 1) == Set((1L, 2L, 2L)),
      "round-1 supports are pre-cascade by contract")
  }

  test("kTrussPeel equals the plain-Scala reference on a seeded random graph") {
    val edges = (0 until 80).map { i =>
      val a = (i * 2654435761L) % 19
      val b = (i * 40503L + 7) % 19
      (a, if (a == b) (b + 1) % 19 else b)
    }.distinct
    for (r <- 1 to 3)
      assert(runTruss(edges, 4, r) == refTruss(edges, 4, r),
        s"rounds=$r diverged")
  }

  /** Plain-Scala WL refinement — the SAME (own color, sorted neighbor
    * multiset) partition with min-member class ids, no Spark. */
  private def refWl(edges: Seq[(Long, Long)], rounds: Int): Map[Long, Long] = {
    val sym = edges.flatMap { case (a, b) => Seq((a, b), (b, a)) }
      .distinct.filter(e => e._1 != e._2)
    val adj = sym.groupBy(_._1).map { case (k, v) => k -> v.map(_._2) }
    var color: Map[Long, Long] = adj.keys.map(_ -> 0L).toMap
    for (_ <- 1 to rounds) {
      def sig(v: Long) = (color(v),
        adj(v).map(color).groupBy(identity)
          .map { case (c, l) => (c, l.size) }.toSeq.sorted)
      color = adj.keys.toSeq.groupBy(sig).flatMap { case (_, vs) =>
        val m = vs.min
        vs.map(_ -> m)
      }
    }
    color
  }

  private def runWl(edges: Seq[(Long, Long)], rounds: Int): Map[Long, Long] =
    GraphOps.wlColors(edges.toDF("src", "dst").repartition(4), rounds)
      .collect().map(r => r.getLong(0) -> r.getLong(1)).toMap

  test("wlColors: P5 — round 1 is degree classes, round 2 splits the center") {
    val p5 = Seq((1L, 2L), (2L, 3L), (3L, 4L), (4L, 5L))
    // round 1: ends {1,5} vs inner {2,3,4} (signature = degree multiset)
    assert(runWl(p5, 1) ==
      Map(1L -> 1L, 5L -> 1L, 2L -> 2L, 3L -> 2L, 4L -> 2L))
    // round 2: the center's neighbors are both inner -> {3} splits off
    assert(runWl(p5, 2) ==
      Map(1L -> 1L, 5L -> 1L, 2L -> 2L, 4L -> 2L, 3L -> 3L))
  }

  test("wlColors plans no Window: class compression is groupBy + join") {
    // the dense_rank a single-node WL uses is a TOTAL-ORDER window — one
    // partition, one task; the min-member compression must never plan one
    val df = GraphOps.wlColors(
      Seq((1L, 2L), (2L, 3L)).toDF("src", "dst"), rounds = 2)
    assert(!df.queryExecution.optimizedPlan.toString.contains("Window"),
      "WL color compression must not use a Window")
    assert(!df.queryExecution.executedPlan.toString.contains("WindowExec"))
  }

  test("wlColors equals the plain-Scala reference on a seeded random graph") {
    val edges = (0 until 60).map { i =>
      val a = (i * 2654435761L) % 23
      val b = (i * 40503L + 7) % 23
      (a, if (a == b) (b + 1) % 23 else b)
    }.distinct
    for (r <- 1 to 3)
      assert(runWl(edges, r) == refWl(edges, r), s"round $r diverged")
  }

  test("each folded graph operator runs a pinned number of Spark jobs on a " +
    "fixed seeded graph") {
    // one probe/pin/checkpoint policy per kernel (frontierBfs, relaxMin,
    // triangles): a per-caller drift in it shows as a changed job count
    import org.apache.spark.JobProbe
    val e = (0 until 80).map { i =>
      val a = (i * 2654435761L) % 19
      val b = (i * 40503L + 7) % 19
      (a, if (a == b) (b + 1) % 19 else b)
    }.distinct.toDF("src", "dst")
    val seeds = Seq(0L, 3L, 6L).toDF("node")
    val w = e.withColumn("w", (col("src") + col("dst")) % 5 + 1)
    val t = e.withColumn("t", (col("src") * 7 + col("dst")) % 11)
    val ops: Seq[(String, () => org.apache.spark.sql.DataFrame)] = Seq(
      "khop" -> (() => GraphOps.khopDistances(e, seeds, maxHops = 3)),
      "perSeed" -> (() => GraphOps.perSeedDistances(e, seeds, maxHops = 3)),
      "closure" -> (() => GraphOps.transitiveClosure(e, maxDepth = 4)),
      "betweenness" -> (() => GraphOps.betweenness(e, seeds, maxHops = 3)),
      "sssp" -> (() => GraphOps.ssspBounded(w, seeds, rounds = 4)),
      "earliestArrival" -> (() => GraphOps.earliestArrival(t, seeds, rounds = 4)),
      "truss" -> (() => GraphOps.kTrussPeel(e, k = 4, rounds = 3)))
    val jobs = ops.map { case (name, op) =>
      name -> JobProbe.jobs(spark.sparkContext)(op().collect())._2
    }
    assert(jobs == Seq("khop" -> 18, "perSeed" -> 20, "closure" -> 17,
      "betweenness" -> 41, "sssp" -> 21, "earliestArrival" -> 17, "truss" -> 15))
  }

  test("modularity: two triangles + bridge — known Q, and floor on negatives") {
    val tri2 = Seq((1L, 2L), (1L, 3L), (2L, 3L),
      (4L, 5L), (4L, 6L), (5L, 6L), (3L, 4L))
    def run(labels: Seq[(Long, Long)]): Map[Long, (Long, Long, Long, Long)] =
      GraphOps.modularity(tri2.toDF("src", "dst"),
          labels.toDF("node", "label"))
        .collect().map(r => r.getLong(0) ->
          ((r.getLong(1), r.getLong(2), r.getLong(3), r.getLong(4)))).toMap
    // natural split: each triangle one community. m = 7, each side
    // m_in = 3 + the bridge endpoint degree: d_c = 7.
    // contrib = (4*7*3 - 49)*1e6 // 196 = 178571 each; Q ~ 0.357 (known)
    val natural = run(Seq(1L -> 1L, 2L -> 1L, 3L -> 1L,
      4L -> 4L, 5L -> 4L, 6L -> 4L))
    assert(natural == Map(
      1L -> ((3L, 3L, 7L, 178571L)),
      4L -> ((3L, 3L, 7L, 178571L))))
    // adversarial split {1,4} has NO internal edge: numer = -25e6,
    // -25000000/196 = -127551.02... -> -127551 (both engines' integer
    // division truncates toward zero — Spark `div`, DuckDB `//` — so the
    // negative contribution is pinned to the shared semantics)
    val adv = run(Seq(1L -> 1L, 4L -> 1L, 2L -> 2L, 3L -> 2L,
      5L -> 5L, 6L -> 5L))
    assert(adv(1L) == ((2L, 0L, 5L, -127551L)))
    // {2,3}: m_in = 1 (edge 2-3), d = 5 -> (28-25)*1e6 // 196 = 15306
    assert(adv(2L) == ((2L, 1L, 5L, 15306L)))
  }
}
