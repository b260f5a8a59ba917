package graft.ops

import graft.SparkSpec
import org.apache.spark.sql.functions._

/** Seeded differential tests for the graph family: the degree-oriented
  * triangle census and the frontier-expansion k-hop reach are checked
  * against naive Scala counters on random Erdős–Rényi-ish edge lists
  * (the CLAUDE.md rule: any custom operator with a cleverness step gets
  * a brute-force twin on seeded random input).
  */
class GraphSpec extends SparkSpec {

  /** Random canonical edge list (a < b, distinct) over n vertices. */
  private def randomEdges(n: Int, m: Int, seed: Long): Set[(Long, Long)] = {
    val rnd = new scala.util.Random(seed)
    Iterator.continually {
      val a = rnd.nextInt(n); val b = rnd.nextInt(n)
      (a.toLong.min(b.toLong), a.toLong.max(b.toLong))
    }.filter { case (a, b) => a != b }.take(m).toSet
  }

  private def edgeDf(edges: Set[(Long, Long)]) = {
    import spark.implicits._
    edges.toSeq.sorted.toDF("a", "b")
  }

  test("triangle census matches a naive counter on seeded random graphs") {
    for (seed <- 1L to 3L) {
      val edges = randomEdges(n = 60, m = 300, seed = seed)
      val adj = edges.groupBy(_._1).map { case (k, v) => k -> v.map(_._2).toSet }
      // naive: for each canonical edge (a,b), common higher-id neighbor c>b
      // with (a,c) and (b,c) present — counts each id-ordered triangle once.
      val naive = edges.toSeq.map { case (a, b) =>
        adj.getOrElse(a, Set.empty).count(c => c > b && edges.contains((b, c)))
      }.sum.toLong
      val nodes = edges.flatMap(e => Seq(e._1, e._2)).size.toLong
      val row = Graph.triangleCensus(edgeDf(edges)).collect().head
      assert(row.getAs[Long]("n_nodes") === nodes, s"seed=$seed nodes")
      assert(row.getAs[Long]("n_edges") === edges.size.toLong, s"seed=$seed edges")
      assert(row.getAs[Long]("n_triangles") === naive, s"seed=$seed triangles")
    }
  }

  test("triangle census of a triangle-free graph (star) is zero") {
    val star = (1L to 20L).map(i => (0L.min(i), 0L.max(i))).toSet
    val row = Graph.triangleCensus(edgeDf(star)).collect().head
    assert(row.getAs[Long]("n_triangles") === 0L)
    assert(row.getAs[Long]("n_nodes") === 21L)
  }

  test("clustering coefficient matches a naive per-vertex counter on seeded graphs") {
    for (seed <- 1L to 3L) {
      val edges = randomEdges(n = 50, m = 220, seed = seed)
      val und = edges.toSeq.flatMap { case (a, b) => Seq(a -> b, b -> a) }
        .groupBy(_._1).map { case (k, v) => k -> v.map(_._2).toSet }
      val rows = Graph.clusteringCoeff(edgeDf(edges)).collect()
      assert(rows.map(_.getAs[Long]("part")).toSet === und.keySet)
      rows.foreach { r =>
        val v = r.getAs[Long]("part")
        val nb = und(v).toSeq
        val naiveTri = (for {
          i <- nb.indices; j <- (i + 1) until nb.size
          x = nb(i).min(nb(j)); y = nb(i).max(nb(j))
          if edges.contains((x, y))
        } yield 1).size.toLong
        val deg = nb.size.toLong
        assert(r.getAs[Long]("deg") === deg, s"seed=$seed v=$v deg")
        assert(r.getAs[Long]("n_tri") === naiveTri, s"seed=$seed v=$v tri")
        val expCc = if (deg >= 2)
          BigDecimal(2.0 * naiveTri / (deg * (deg - 1)).toDouble)
            .setScale(6, BigDecimal.RoundingMode.HALF_UP).toDouble
        else 0.0
        assert(math.abs(r.getAs[Double]("cc") - expCc) < 1e-9, s"seed=$seed v=$v cc")
      }
    }
  }

  test("assortativity matches a naive driver-side Newman r on seeded graphs") {
    // the one graph query that had no second, independent check: recompute
    // Newman's degree assortativity from scratch — degree map, both edge
    // orientations as (x, y) samples, textbook Pearson over the samples —
    // and compare to the distributed closed form at its rounded scale.
    for (seed <- 1L to 3L) {
      val edges = randomEdges(n = 60, m = 260, seed = seed)
      val deg = edges.toSeq.flatMap { case (a, b) => Seq(a, b) }
        .groupBy(identity).map { case (k, v) => k -> v.size.toLong }
      val samples = edges.toSeq.flatMap { case (a, b) =>
        Seq((deg(a), deg(b)), (deg(b), deg(a))) }
      val m2 = samples.size.toLong
      val sx = samples.map(_._1).sum; val sy = samples.map(_._2).sum
      val sxx = samples.map(s => s._1 * s._1).sum
      val syy = samples.map(s => s._2 * s._2).sum
      val sxy = samples.map(s => s._1 * s._2).sum
      val naive = (m2 * sxy - sx * sy).toDouble /
        math.sqrt((m2 * sxx - sx * sx).toDouble * (m2 * syy - sy * sy).toDouble)
      val row = Graph.assortativity(edgeDf(edges)).collect().head
      assert(row.getAs[Long]("m2") === m2, s"seed=$seed m2")
      assert(math.abs(row.getAs[Double]("assort") -
        BigDecimal(naive).setScale(9, BigDecimal.RoundingMode.HALF_UP).toDouble)
        <= 1e-9, s"seed=$seed r")
    }
    // closed-form witness: a star is perfectly disassortative, r = -1
    val star = (1L to 15L).map(i => (0L, i)).toSet
    val r = Graph.assortativity(edgeDf(star)).collect().head
    assert(r.getAs[Double]("assort") === -1.0)
  }

  test("khop reach matches naive BFS radii on a seeded random graph") {
    import spark.implicits._
    val edges = randomEdges(n = 80, m = 200, seed = 7L)
    val und = edges.toSeq.flatMap { case (a, b) => Seq(a -> b, b -> a) }
      .groupBy(_._1).map { case (k, v) => k -> v.map(_._2).toSet }
    val seeds = Seq(0L, 1L, 2L, 3L, 4L)
    val expect = seeds.flatMap { sd =>
      val h1 = und.getOrElse(sd, Set.empty)
      val h2 = h1.flatMap(v => und.getOrElse(v, Set.empty)) ++ h1
      if (h1.isEmpty) None
      else Some((sd, (h1 - sd).size.toLong, (h2 - sd).size.toLong))
    }.sortBy(_._1)
    val got = Graph.khopReach(edgeDf(edges), seeds.toDF("seed"))
      .collect().map(r => (r.getAs[Long]("seed_part"),
        r.getAs[Long]("reach1"), r.getAs[Long]("reach2"))).toSeq
    assert(got === expect)
  }

  /** Random weighted canonical edge list: [[randomEdges]] plus a seeded
    * weight 1..9 per edge. */
  private def randomWeighted(n: Int, m: Int, seed: Long): Map[(Long, Long), Long] = {
    val rnd = new scala.util.Random(seed * 31 + 7)
    randomEdges(n, m, seed).map(e => e -> (1L + rnd.nextInt(9))).toMap
  }

  private def wedgeDf(w: Map[(Long, Long), Long]) = {
    import spark.implicits._
    w.toSeq.map { case ((a, b), wt) => (a, b, wt) }.sorted.toDF("a", "b", "w")
  }

  test("triangle strength matches a naive weighted counter on seeded graphs") {
    for (seed <- 21L to 23L) {
      val w = randomWeighted(n = 60, m = 300, seed = seed)
      val edges = w.keySet
      val adj = edges.groupBy(_._1).map { case (k, v) => k -> v.map(_._2).toSet }
      // naive: each id-ordered triangle a<b<c once, min of its 3 weights
      var nTri = 0L; var strength = 0L
      edges.foreach { case (a, b) =>
        adj.getOrElse(a, Set.empty).foreach { c =>
          if (c > b && edges.contains((b, c))) {
            nTri += 1
            strength += Seq(w((a, b)), w((b, c)), w((a, c))).min
          }
        }
      }
      val row = Graph.triangleStrength(wedgeDf(w)).collect().head
      assert(row.getAs[Long]("n_triangles") === nTri, s"seed=$seed count")
      assert(row.getAs[Long]("strength") === strength, s"seed=$seed strength")
    }
  }

  test("weighted pagerank matches a driver-side weighted integer iteration") {
    for (seed <- 31L to 32L) {
      val w = randomWeighted(n = 50, m = 150, seed = seed)
      val und = w.toSeq.flatMap { case ((a, b), wt) => Seq((a, b, wt), (b, a, wt)) }
      val out = und.groupBy(_._1).map { case (k, v) => k -> v.map(e => (e._2, e._3)) }
      val wdeg = out.map { case (k, v) => k -> v.map(_._2).sum }
      var r: Map[Long, Long] = wdeg.map { case (k, _) => k -> 1000000000000L }
      (1 to 5).foreach { _ =>
        r = wdeg.map { case (v, _) =>
          val sc = out(v).map { case (u, wt) => (r(u) / wdeg(u)) * wt }.sum
          v -> (150000000000L + 85L * sc / 100L)
        }
      }
      val got = Graph.pagerankWeighted(wedgeDf(w), iters = 5)
        .collect().map(x => x.getAs[Long]("part") -> x.getAs[Long]("pr_fixed"))
        .toMap
      assert(got === r, s"seed=$seed weighted pagerank differs")
      // all-weights-1 degenerates to the unweighted recurrence exactly
      val ones = w.map { case (k, _) => k -> 1L }
      val gotOnes = Graph.pagerankWeighted(wedgeDf(ones), iters = 3)
        .collect().map(x => x.getAs[Long]("part") -> x.getAs[Long]("pr_fixed"))
      val unw = Graph.pagerankFixed(edgeDf(w.keySet), iters = 3)
        .collect().map(x => x.getAs[Long]("part") -> x.getAs[Long]("pr_fixed"))
      assert(gotOnes.toMap === unw.toMap, s"seed=$seed weight-1 degeneration")
    }
  }

  test("fixed-point pagerank matches a driver-side integer power iteration") {
    for (seed <- 11L to 12L) {
      val edges = randomEdges(n = 50, m = 150, seed = seed)
      val und = edges.toSeq.flatMap { case (a, b) => Seq(a -> b, b -> a) }
      val nbrs = und.groupBy(_._1).map { case (k, v) => k -> v.map(_._2) }
      val deg = nbrs.map { case (k, v) => k -> v.size.toLong }
      var r: Map[Long, Long] = deg.map { case (k, _) => k -> 1000000000000L }
      (1 to 5).foreach { _ =>
        r = deg.map { case (v, _) =>
          val sc = nbrs(v).map(u => r(u) / deg(u)).sum
          v -> (150000000000L + 85L * sc / 100L)
        }
      }
      val got = Graph.pagerankFixed(edgeDf(edges), iters = 5)
        .collect().map(x => x.getAs[Long]("part") -> x.getAs[Long]("pr_fixed"))
        .toMap
      assert(got === r, s"seed=$seed pagerank differs")
      // total mass stays within the damped-walk envelope: every score is
      // at least the teleport floor and the floor-div losses only shrink
      assert(got.values.forall(_ >= 150000000000L))
    }
  }

  test("components match a driver-side union-find on seeded random graphs") {
    for (seed <- 51L to 53L) {
      // sparse (m < n) so the graph fragments into many components
      val edges = randomEdges(n = 120, m = 60, seed = seed)
      val parent = scala.collection.mutable.Map.empty[Long, Long]
      def find(x: Long): Long = {
        val p = parent.getOrElse(x, x)
        if (p == x) x else { val r = find(p); parent(x) = r; r }
      }
      edges.foreach { case (a, b) =>
        val (ra, rb) = (find(a), find(b))
        if (ra != rb) parent(ra.max(rb)) = ra.min(rb)
      }
      val verts = edges.flatMap(e => Seq(e._1, e._2))
      val comp = verts.map(v => v -> find(v)).toMap
      val sizes = comp.values.groupBy(identity).map { case (k, v) => k -> v.size.toLong }
      val expect = verts.toSeq.sorted.map(v => (v, comp(v), sizes(comp(v))))
      val got = Graph.components(edgeDf(edges)).collect()
        .map(r => (r.getAs[Long]("part"), r.getAs[Long]("component"),
          r.getAs[Long]("comp_size"))).toSeq
      assert(got === expect, s"seed=$seed components differ")
      // the label propagation labels every component by its min member
      assert(got.forall { case (v, c, _) => c <= v })
    }
  }

  test("common-neighbor pairs match a naive wedge counter; no edge leaks through") {
    for (seed <- 61L to 62L) {
      val edges = randomEdges(n = 60, m = 120, seed = seed)
      val und = edges.toSeq.flatMap { case (a, b) => Seq(a -> b, b -> a) }
        .groupBy(_._1).map { case (k, v) => k -> v.map(_._2).toSet }
      val naive = scala.collection.mutable.Map.empty[(Long, Long), Long]
      und.foreach { case (_, nbrs) =>
        val ns = nbrs.toSeq.sorted
        for (i <- ns.indices; j <- (i + 1) until ns.size)
          naive((ns(i), ns(j))) = naive.getOrElse((ns(i), ns(j)), 0L) + 1L
      }
      val expect = naive.toSeq.filterNot { case (p, _) => edges.contains(p) }
        .map { case ((a, b), cn) => (a, b, cn) }
        .sortBy { case (a, b, cn) => (-cn, a, b) }
      val got = Graph.commonNeighborPairs(edgeDf(edges)).collect()
        .map(r => (r.getAs[Long]("a"), r.getAs[Long]("b"), r.getAs[Long]("cn")))
        .toSeq
      assert(got === expect, s"seed=$seed predicted pairs differ")
      // anti-join really removed every existing edge
      assert(got.forall { case (a, b, _) => !edges.contains((a, b)) })
    }
  }

  test("jaccard link scores match the naive |intersect|/|union| on seeded graphs") {
    for (seed <- 71L to 72L) {
      val edges = randomEdges(n = 60, m = 120, seed = seed)
      val und = edges.toSeq.flatMap { case (a, b) => Seq(a -> b, b -> a) }
        .groupBy(_._1).map { case (k, v) => k -> v.map(_._2).toSet }
      val naive = (for {
        (a, na) <- und.toSeq
        (b, nb) <- und.toSeq
        if a < b && !edges.contains((a, b))
        cn = (na & nb).size if cn > 0
      } yield {
        val union = na.size + nb.size - cn
        (a, b, cn.toLong, union.toLong, cn.toDouble / union)
      }).sortBy { case (a, b, _, _, j) => (-j, a, b) }
      val got = Graph.jaccardLink(edgeDf(edges)).collect()
        .map(r => (r.getAs[Long]("a"), r.getAs[Long]("b"), r.getAs[Long]("cn"),
          r.getAs[Long]("union_size"), r.getAs[Double]("jac"))).toSeq
      assert(got === naive, s"seed=$seed jaccard differs")
      // jaccard is a probability; 1.0 is reachable only by twin vertices
      // (identical neighborhoods), which non-adjacency does not preclude
      assert(got.forall { case (_, _, _, _, j) => j > 0.0 && j <= 1.0 })
    }
  }

  test("bounded-hop weighted sssp matches a naive Bellman-Ford relaxation") {
    import spark.implicits._
    val INF = 1000000000000000L
    for (seed <- 41L to 43L) {
      val w = randomWeighted(n = 60, m = 240, seed = seed)
      val und = w.toSeq.flatMap { case ((a, b), wt) =>
        val len = 1000000L / wt // non-negative: / == div == //
        Seq((a, b, len), (b, a, len))
      }
      val inTo = und.groupBy(_._2)
      val verts = und.map(_._1).distinct
      val seedSet = verts.filter(_ % 17 == 0).toSet
      assert(seedSet.nonEmpty)
      var dist = verts.map(v => v -> (if (seedSet(v)) 0L else INF)).toMap
      (1 to 4).foreach { _ =>
        dist = verts.map { v =>
          val relax = inTo.getOrElse(v, Seq.empty)
            .map { case (u, _, len) => dist(u) + len }
          v -> (relax :+ dist(v)).min
        }.toMap
      }
      val expect = dist.filter(_._2 < INF).toSeq.sorted
      val got = Graph.ssspWeighted(wedgeDf(w),
          seedSet.toSeq.sorted.toDF("seed"), iters = 4)
        .collect().map(r => (r.getAs[Long]("part"), r.getAs[Long]("dist4")))
        .toSeq
      assert(got === expect, s"seed=$seed sssp differs")
      // seeds themselves are at distance 0 and every output is reachable
      seedSet.foreach(sd => assert(got.contains((sd, 0L)), s"seed=$seed missing $sd"))
    }
  }

  /** Naive synchronous peel: one round drops every vertex with deg < k. */
  private def peelRounds(edges: Set[(Long, Long)], k: Int,
      rounds: Int): Set[(Long, Long)] = {
    var es = edges
    var r = 0
    var changed = true
    while (r < rounds && changed) {
      val deg = es.toSeq.flatMap { case (a, b) => Seq(a, b) }
        .groupBy(identity).map { case (v, l) => v -> l.size }
      val next = es.filter { case (a, b) => deg(a) >= k && deg(b) >= k }
      changed = next != es
      es = next
      r += 1
    }
    es
  }

  private def coreDegrees(es: Set[(Long, Long)]): Map[Long, Long] =
    es.toSeq.flatMap { case (a, b) => Seq(a, b) }
      .groupBy(identity).map { case (v, l) => v -> l.size.toLong }

  test("k-core peel matches a naive peel-to-convergence on seeded graphs") {
    for (seed <- 11L to 13L; k <- Seq(3, 5, 8)) {
      val edges = randomEdges(n = 40, m = 170, seed = seed)
      val expect = coreDegrees(peelRounds(edges, k, rounds = 1000))
      val got = Graph.kcorePeel(edgeDf(edges), k, rounds = 40).collect()
        .map(r => r.getAs[Long]("part") -> r.getAs[Long]("core_deg")).toMap
      assert(got === expect, s"seed=$seed k=$k kcore differs")
      // every survivor meets the core bound — the defining invariant
      assert(got.values.forall(_ >= k), s"seed=$seed k=$k sub-k survivor")
    }
  }

  test("bounded-round k-core peel truncates exactly like the unrolled recurrence") {
    val edges = randomEdges(n = 40, m = 120, seed = 99L)
    for (r <- 1 to 3) {
      val expect = coreDegrees(peelRounds(edges, k = 4, rounds = r))
      val got = Graph.kcorePeel(edgeDf(edges), k = 4, rounds = r).collect()
        .map(row => row.getAs[Long]("part") -> row.getAs[Long]("core_deg")).toMap
      assert(got === expect, s"rounds=$r truncated peel differs")
    }
  }

  /** Naive synchronous truss peel: one round drops every edge with fewer
    * than k−2 common neighbors among surviving edges. */
  private def trussRounds(edges: Set[(Long, Long)], k: Int,
      rounds: Int): Set[(Long, Long)] = {
    def nbrs(es: Set[(Long, Long)]): Map[Long, Set[Long]] =
      es.toSeq.flatMap { case (a, b) => Seq(a -> b, b -> a) }
        .groupBy(_._1).map { case (v, l) => v -> l.map(_._2).toSet }
    var es = edges
    var r = 0
    var changed = true
    while (r < rounds && changed) {
      val nb = nbrs(es)
      val next = es.filter { case (a, b) => (nb(a) & nb(b)).size >= k - 2 }
      changed = next != es
      es = next
      r += 1
    }
    es
  }

  private def trussSupports(es: Set[(Long, Long)]): Map[(Long, Long), Long] = {
    val nb = es.toSeq.flatMap { case (a, b) => Seq(a -> b, b -> a) }
      .groupBy(_._1).map { case (v, l) => v -> l.map(_._2).toSet }
    es.map { case (a, b) => (a, b) -> (nb(a) & nb(b)).size.toLong }.toMap
  }

  test("k-truss peel matches a naive peel-to-convergence on seeded graphs") {
    for (seed <- 21L to 23L; k <- Seq(3, 4, 5)) {
      val edges = randomEdges(n = 40, m = 170, seed = seed)
      val expect = trussSupports(trussRounds(edges, k, rounds = 1000))
      val got = Graph.ktrussPeel(edgeDf(edges), k, rounds = 40).collect()
        .map(r => (r.getAs[Long]("a"), r.getAs[Long]("b")) ->
          r.getAs[Long]("support")).toMap
      assert(got === expect, s"seed=$seed k=$k ktruss differs")
      // the defining invariant: every surviving edge closes ≥ k−2
      // triangles within the truss
      assert(got.values.forall(_ >= k - 2), s"seed=$seed k=$k weak survivor")
    }
  }

  test("k-truss cascade: removing weak edges starves the shared edge a round later") {
    // Two triangles sharing edge (2,3) — the four outer edges have
    // support 1, the shared edge support 2 — plus a disjoint 4-clique
    // (every edge support 2, a stable 4-truss). Round 1 of the k=4 peel
    // removes only the outer edges; (2,3) survives round 1 and dies in
    // round 2 PURELY through the cascade (its triangles lost their other
    // sides). The bounded-round semantics make that observable: rounds=1
    // keeps (2,3) at in-truss support 0, rounds≥2 converge to the clique.
    val gadget = Set((1L, 2L), (1L, 3L), (2L, 3L), (2L, 4L), (3L, 4L))
    val clique = Set((10L, 11L), (10L, 12L), (10L, 13L),
      (11L, 12L), (11L, 13L), (12L, 13L))
    val edges = gadget ++ clique
    def run(rounds: Int): Map[(Long, Long), Long] =
      Graph.ktrussPeel(edgeDf(edges), k = 4, rounds = rounds).collect()
        .map(r => (r.getAs[Long]("a"), r.getAs[Long]("b")) ->
          r.getAs[Long]("support")).toMap
    val cliqueSup = clique.map(_ -> 2L).toMap
    assert(run(1) === cliqueSup + ((2L, 3L) -> 0L),
      "round 1 should keep the shared edge (support 2 before the peel)")
    assert(run(2) === cliqueSup,
      "round 2 should cascade the shared edge away")
    // early stop ≡ the full unroll once converged (round 3 is identity)
    assert(run(4) === cliqueSup, "converged peel changed after identity rounds")
  }

  test("k-truss on the FULL sf0.01 co-occurrence graph: slice-consistency and support monotonicity vs the declared pk<1200 query") {
    // VERDICT r14 #5: the declared graph_ktruss query peels the pk<1200
    // oracle slice (the DuckDB wedge join is quadratic on the full
    // graph), so the UNSLICED path needs its own Spark-side pin beyond
    // the hand-built gadgets. Theory being pinned: the peel operator is
    // MONOTONE in the edge set (E1 ⊆ E2 ⇒ peel(E1) ⊆ peel(E2), since
    // support within a superset can only grow — by induction round for
    // round), so with the SAME round budget the slice truss must embed
    // in the full-graph truss, with per-edge in-truss support no larger.
    val d = "/root/testdata/sf0.01"
    def toMap(df: org.apache.spark.sql.DataFrame) = df.collect()
      .map(r => (r.getAs[Long]("a"), r.getAs[Long]("b")) ->
        r.getAs[Long]("support")).toMap
    val full = toMap(Graph.ktrussPeel(Graph.coEdgesP(spark, d), k = 4, rounds = 4))
    val slice = toMap(graft.SparkEntry.queries("graph_ktruss")(spark, d))
    val nEdges = Graph.coEdgesP(spark, d).count()
    assert(full.nonEmpty && slice.nonEmpty, "vacuous truss")
    assert(full.size < nEdges,
      "full-graph peel removed nothing — the property run is vacuous")
    // slice-consistency: every slice survivor survives the full peel
    val missing = slice.keySet -- full.keySet
    assert(missing.isEmpty,
      s"slice survivors missing from the full truss: ${missing.take(5)}")
    // support monotonicity: in-truss support can only grow with the graph
    val shrunk = slice.filter { case (e, sup) => full(e) < sup }
    assert(shrunk.isEmpty,
      s"full-graph support fell below slice support: ${shrunk.take(5)}")
    // the full peel run to convergence satisfies the defining invariant:
    // every survivor closes ≥ k−2 triangles among survivors
    val converged = toMap(
      Graph.ktrussPeel(Graph.coEdgesP(spark, d), k = 4, rounds = 16))
    assert(converged.values.forall(_ >= 2L),
      "converged 4-truss kept an edge with in-truss support < 2")
    assert(converged.keySet.subsetOf(full.keySet),
      "more rounds grew the truss (peel must be monotone in rounds)")
  }

  test("persisted edge table equals the inline derivation, and queries read only the edge parquet") {
    // The materialized co-occurrence table is a pure function of
    // lineitem: its rows must equal the inline groupBy+fan-out
    // derivation exactly (weighted, unweighted, and backbone all come
    // from the ONE persisted table).
    def norm(df: org.apache.spark.sql.DataFrame) =
      df.collect().map(_.toSeq.toList).toList.sortBy(_.toString)
    assert(norm(Graph.coEdgesWeightedP(spark, sf)) ===
      norm(Graph.coEdgesWeighted(spark, sf)),
      "persisted weighted edges diverged from the inline derivation")
    assert(norm(Graph.coEdgesP(spark, sf)) === norm(Graph.coEdges(spark, sf)),
      "persisted unweighted projection diverged")
    assert(norm(Graph.backboneP(spark, sf)) === norm(Graph.backbone(spark, sf)),
      "persisted backbone diverged")
    // steady state: a graph query's finalized plan scans the edge
    // parquet, never lineitem (the whole point of the materialization).
    // triangle_count has no internal localCheckpoint, so the edge scan
    // is visible in the inspected plan (queries that checkpoint an
    // intermediate hide the scan inside the checkpoint job).
    val q = graft.SparkEntry.queries("graph_triangle_count")(spark, sf)
    q.collect() // AQE-finalize before inspecting (round-4 rule)
    val plan = q.queryExecution.executedPlan.toString
    assert(plan.contains("graft_coedges_"),
      s"expected the persisted edge scan:\n$plan")
    assert(!plan.contains("lineitem.parquet"),
      s"graph query re-derived edges from the fact table:\n$plan")
  }

  test("louvain move phase: partition modularity beats or matches the CC partition on the fixture") {
    // The move phase climbs Q from singletons; the CC partition is the
    // fixture's natural community structure (graph_modularity's scaladoc),
    // so Q(louvain) >= Q(CC) is the "did the climb actually work" pin.
    // Q·4m² is exact BigInt arithmetic on the driver over the small
    // fixture backbone — an independent recomputation, not the query's own
    // aggregates.
    val bb = Graph.backboneP(spark, sf).collect()
      .map(r => (r.getLong(0), r.getLong(1)))
    val m = BigInt(bb.length)
    val deg = bb.flatMap(e => Seq(e._1, e._2))
      .groupBy(identity).map { case (v, o) => v -> BigInt(o.length) }
    def q4m2(lab: Map[Long, Long]): BigInt = {
      val eIntra = bb.filter(e => lab(e._1) == lab(e._2))
        .groupBy(e => lab(e._1)).map { case (c, es) => c -> BigInt(es.length) }
      val degC = deg.toSeq.groupBy { case (v, _) => lab(v) }
        .map { case (c, vs) => c -> vs.map(_._2).sum }
      degC.map { case (c, dc) =>
        4 * m * eIntra.getOrElse(c, BigInt(0)) - dc * dc
      }.sum
    }
    val louvain = graft.SparkEntry.queries("graph_louvain_step")(spark, sf)
      .collect().map(r => r.getLong(0) -> r.getLong(1)).toMap
    val cc = graft.SparkEntry.queries("graph_components")(spark, sf)
      .collect().map(r => r.getLong(0) -> r.getLong(1)).toMap
    assert(louvain.keySet === cc.keySet, "louvain lost or invented vertices")
    val qL = q4m2(louvain)
    val qC = q4m2(cc)
    val den = (4 * m * m).toDouble
    info(s"Q(louvain 4 rounds) = ${qL.toDouble / den}, Q(CC) = ${qC.toDouble / den}, " +
      s"communities: ${louvain.values.toSet.size} vs ${cc.values.toSet.size}")
    assert(qL > 0, "louvain partition scored non-positive modularity")
    assert(qL >= qC, s"move phase scored below the CC partition: $qL < $qC")
    // two-level (move + aggregation + second sweep) must not score below
    // the one-level partition it starts from. NOTE: this is a FIXTURE PIN
    // (like the ANN recall numbers), not a structural theorem — the
    // synchronous parity-gated sweep applies every same-parity
    // strictly-positive-gain move simultaneously against STALE community
    // stats, and simultaneous moves can in principle jointly lower Q even
    // though each is positive in isolation. On this fixture (and at all
    // three scales) the level-2 sweep's joint moves do improve Q; if a
    // fixture regeneration ever flips this, re-pin the measured Q values
    // here rather than hunting a code regression. The independent BigInt
    // recompute still pins the contraction math (self-loop degrees,
    // conserved W) unconditionally via the coarsening check below.
    val full = graft.SparkEntry.queries("graph_louvain_full")(spark, sf)
      .collect().map(r => r.getLong(0) -> r.getLong(1)).toMap
    assert(full.keySet === louvain.keySet, "two-level changed the vertex set")
    val qF = q4m2(full)
    info(s"Q(two-level) = ${qF.toDouble / den}, " +
      s"communities: ${full.values.toSet.size}")
    assert(qF >= qL,
      s"two-level scored below the one-level move phase: $qF < $qL")
    // the projection respects level-1 granularity: two vertices sharing a
    // level-1 community must share the final community (contraction can
    // only merge level-1 communities, never split them)
    val coarser = louvain.groupBy(_._2).values
      .forall(g => g.map(kv => full(kv._1)).toSet.size == 1)
    assert(coarser, "two-level split a level-1 community")
    // purity pin for the persisted level-1 table graph_louvain_full rides:
    // it must equal the fresh sweep graph_louvain_step runs (same label
    // per vertex), or the persistence would be a semantic fork
    val l1p = Graph.louvainL1P(spark, sf).collect()
      .map(r => r.getLong(0) -> r.getLong(1)).toMap
    assert(l1p === louvain,
      "persisted level-1 labels diverged from the fresh move sweep")
    // weighted variant: same vertex universe, positive WEIGHTED modularity
    // (Q_w·4W² over w-sums), and strong ties make it a genuinely different
    // partition, not an alias of the unweighted one
    val wbb = Graph.coEdgesWeightedP(spark, sf).filter(col("w") >= 2)
      .collect().map(r => (r.getLong(0), r.getLong(1), r.getLong(2)))
    val wl = graft.SparkEntry.queries("graph_louvain_weighted")(spark, sf)
      .collect().map(r => r.getLong(0) -> r.getLong(1)).toMap
    assert(wl.keySet === louvain.keySet, "weighted louvain changed the vertex set")
    val bigW = wbb.map(e => BigInt(e._3)).sum
    val wdeg = wbb.flatMap(e => Seq(e._1 -> e._3, e._2 -> e._3))
      .groupBy(_._1).map { case (v, o) => v -> o.map(x => BigInt(x._2)).sum }
    val eIn = wbb.filter(e => wl(e._1) == wl(e._2))
      .groupBy(e => wl(e._1)).map { case (c, es) => c -> es.map(x => BigInt(x._3)).sum }
    val dC = wdeg.toSeq.groupBy { case (v, _) => wl(v) }
      .map { case (c, vs) => c -> vs.map(_._2).sum }
    val qW = dC.map { case (c, dc) => 4 * bigW * eIn.getOrElse(c, BigInt(0)) - dc * dc }.sum
    info(s"weighted Q = ${qW.toDouble / (4 * bigW * bigW).toDouble}, " +
      s"communities: ${wl.values.toSet.size}")
    assert(qW > 0, "weighted louvain scored non-positive weighted modularity")
    // purity pin for the persisted weighted sweep table the declared query
    // rides (the louvainL1P discipline): it must equal a FRESH 4-round
    // weighted sweep, or the persistence would be a semantic fork
    val wFresh = Graph.louvainMoveRounds(
        Graph.coEdgesWeightedP(spark, sf).filter(col("w") >= 2), rounds = 4,
        totalW = bigW.toLong)
      .collect().map(r => r.getLong(0) -> r.getLong(1)).toMap
    assert(wl === wFresh,
      "persisted weighted sweep labels diverged from the fresh sweep")
  }
}
