package graft.graph

import org.scalatest.funsuite.AnyFunSuite
import graft.{BothPaths, SparkTestSession}
import graft.exec.Bounded
import graft.exec.Bounded.distributedOnly
import org.apache.spark.sql.DataFrame
import org.apache.spark.sql.functions._

/** Components, personalized PageRank, and neighbor-Jaccard over small graphs
  * with hand-computed expectations (the cross-engine oracle pins the KG-scale
  * behavior; these pin the arithmetic and the edge cases). */
class GraphAnalyticsSpec extends AnyFunSuite with SparkTestSession with BothPaths {

  private def edges(rows: (String, String, Double)*): DataFrame = {
    import spark.implicits._
    rows.toDF("source", "target", "c")
  }

  /** Runs `body` and asserts that a probe under each of `labels` took the
    * driver, so a parity check fails when a fast path stops firing. */
  private def onDriver(labels: String*)(body: => Unit): Unit = {
    val (_, probes) = Bounded.recording(body)
    val driver = probes.filter(_.path == Bounded.Driver).map(_.label).toSet
    assert(labels.toSet.subsetOf(driver), s"a fast path did not run: $probes")
  }

  test("connectedComponents: two components, self-loops carry no connectivity") {
    val e = edges(("A", "B", 1), ("B", "C", 1), ("X", "Y", 1), ("Z", "Z", 1))
    val got = GraphOps.connectedComponents(e).collect()
      .map(r => (r.getString(0), r.getString(1))).toMap
    assert(got == Map("A" -> "A", "B" -> "A", "C" -> "A", "X" -> "X", "Y" -> "X"))
  }

  test("personalizedPageRank: exact integer mass on a two-node chain") {
    val e = edges(("A", "B", 1))
    val r1 = GraphOps.personalizedPageRank(e, "A", iters = 1).collect()
      .map(r => (r.getString(0), r.getLong(1))).toMap
    assert(r1 == Map("A" -> 150000000000L, "B" -> 850000000000L))
    // B is dangling: its mass drops, A keeps only its restart share
    val r2 = GraphOps.personalizedPageRank(e, "A", iters = 2).collect()
      .map(r => (r.getString(0), r.getLong(1))).toMap
    assert(r2 == Map("A" -> 150000000000L, "B" -> 127500000000L))
  }

  test("personalizedPageRank: restart mass returns along a cycle") {
    val e = edges(("A", "B", 1), ("B", "A", 1))
    val r2 = GraphOps.personalizedPageRank(e, "A", iters = 2).collect()
      .map(r => (r.getString(0), r.getLong(1))).toMap
    // iter1: A=150e9, B=850e9; iter2: A=150e9 + 85*850e9/100, B=85*150e9/100
    assert(r2 == Map("A" -> 872500000000L, "B" -> 127500000000L))
  }

  test("neighborJaccard: triangle gives 1/3 per pair; disjoint pair absent") {
    val e = edges(("A", "B", 1), ("B", "C", 1), ("A", "C", 1), ("X", "Y", 1))
    val got = GraphOps.neighborJaccard(e).collect()
      .map(r => ((r.getString(0), r.getString(1)),
        (r.getLong(2), r.getLong(3), r.getLong(4), r.getDouble(5)))).toMap
    assert(got.keySet == Set(("A", "B"), ("A", "C"), ("B", "C")))
    got.values.foreach { case (inter, da, db, j) =>
      assert(inter == 1L && da == 2L && db == 2L && j == 1.0 / 3.0)
    }
  }

  test("maximalIndependentSet: independence + maximality on a 60-node graph") {
    val n = 60
    val e = edges((0 until n).flatMap(i =>
      Seq((s"v$i", s"v${(i * 5 + 2) % n}", 1.0), (s"v$i", s"v${(i * 11 + 7) % n}", 1.0))): _*)
    val got = GraphOps.maximalIndependentSet(e, rounds = 8).collect()
      .map(r => r.getString(0) -> r.getString(1)).toMap
    assert(got.size == n)
    assert(!got.values.exists(_ == "undecided"), "8 rounds must reach the fixpoint")
    val mis = got.filter(_._2 == "mis").keySet
    val adjPairs = e.collect().map(r => (r.getString(0), r.getString(1)))
      .filter { case (a, b) => a != b }
    // independence: no edge inside the MIS
    adjPairs.foreach { case (a, b) =>
      assert(!(mis(a) && mis(b)), s"adjacent MIS members $a,$b")
    }
    // maximality: every covered node has a MIS neighbor
    val nbrs = (adjPairs ++ adjPairs.map(_.swap)).groupBy(_._1).view.mapValues(_.map(_._2).toSet)
    got.filter(_._2 == "covered").keys.foreach { v =>
      assert(nbrs(v).exists(mis), s"covered $v has no MIS neighbor")
    }
  }

  test("katz: exact truncating fixed point on a chain (alpha = 1/4)") {
    val e = edges(("A", "B", 1), ("B", "C", 1))
    val got = GraphOps.katz(e, rounds = 3, num = 1, den = 4).collect()
      .map(r => r.getString(0) -> r.getLong(1)).toMap
    // c1: B=250000 (from A), C=250000 (from B); c2: C=62500; c3: all zero
    assert(got == Map("A" -> 0L, "B" -> 250000L, "C" -> 312500L))
  }

  bothPaths("katz: a path count that overflows a long raises, never wraps") {
    // K_{n,n} both ways: every count grows n·num/den-fold per round. The
    // K_{20,20} case raises with any one replica site unchecked; in each
    // other case one site overflows first and alone (the product num·c, the
    // per-target sum, the accumulator), so unchecking it returns a value
    def complete(n: Int) = edges((0 until n).flatMap(i => (0 until n).flatMap(j =>
      Seq((s"L$i", s"R$j", 1.0), (s"R$j", s"L$i", 1.0)))): _*)
    for ((n, num, den, rounds) <- Seq((20, 7L, 8L, 16), (10, 10L, 11L, 14), (10, 2L, 3L, 16),
        (11, 7L, 12L, 16))) {
      val ex = intercept[Exception](GraphOps.katz(complete(n), rounds, num, den).collect())
      assert(Iterator.iterate[Throwable](ex)(_.getCause).takeWhile(_ != null)
        .exists(_.isInstanceOf[ArithmeticException]), s"K_{$n,$n} $num/$den x$rounds: $ex")
    }
  }

  bothPaths("modularity: a q_num that overflows a long raises, never wraps") {
    // two disjoint triangles of weight 3e9: in2_w = deg_w = 1.8e10 and
    // 2m = 3.6e10, so in2_w * 2m and deg_w^2 overflow (the sums do not)
    val c = 3e9
    val e = edges(("A", "B", c), ("B", "C", c), ("A", "C", c),
      ("D", "E", c), ("E", "F", c), ("D", "F", c))
    val ex = intercept[Exception](GraphOps.modularity(e).collect())
    assert(Iterator.iterate[Throwable](ex)(_.getCause).takeWhile(_ != null)
      .exists(_.isInstanceOf[ArithmeticException]), s"$ex")
  }

  test("modularity: one community scores 0; two disjoint triangles score Q=1/2") {
    val k3 = edges(("A", "B", 1), ("B", "C", 1), ("A", "C", 1))
    val one = GraphOps.modularity(k3).collect()
      .map(r => (r.getString(0), r.getLong(1), r.getLong(2), r.getLong(3)))
    assert(one.length == 1 && one(0)._2 == 6L && one(0)._3 == 6L && one(0)._4 == 0L)
    val two = edges(("A", "B", 1), ("B", "C", 1), ("A", "C", 1),
      ("D", "E", 1), ("E", "F", 1), ("D", "F", 1))
    val got = GraphOps.modularity(two).collect()
      .map(r => (r.getLong(1), r.getLong(2), r.getLong(3))).toSeq
    // per community: in2=6, deg=6, 2m=12 -> q_num = 6*12 - 36 = 36; Q = 72/144 = 1/2
    assert(got == Seq((6L, 6L, 36L), (6L, 6L, 36L)))
  }

  test("closeness: exact scaled-integer reach/sum-dist on a chain; sinks zero") {
    val e = edges(("A", "B", 1), ("B", "C", 1), ("X", "Y", 1))
    val got = GraphOps.closeness(e, rounds = 3).collect()
      .map(r => r.getString(0) -> ((r.getLong(1), r.getLong(2), r.getLong(3)))).toMap
    // A: reaches B@1, C@2 -> 2e6 div 3 = 666666; B: C@1 -> 1e6; sinks 0
    assert(got == Map(
      "A" -> ((2L, 3L, 666666L)), "B" -> ((1L, 1L, 1000000L)), "C" -> ((0L, 0L, 0L)),
      "X" -> ((1L, 1L, 1000000L)), "Y" -> ((0L, 0L, 0L))))
  }

  test("betweenness: chain puts interior nodes on every through-path") {
    val e = edges(("A", "B", 1), ("B", "C", 1), ("C", "D", 1))
    val got = GraphOps.betweenness(e, rounds = 3).collect()
      .map(r => r.getString(0) -> r.getLong(1)).toMap
    // src=A: delta(C)=1e6 (to D), delta(B)=(1e6+1e6)=2e6; src=B: delta(C)=1e6
    assert(got == Map(
      "A" -> 0L, "B" -> 2000000L, "C" -> 2000000L, "D" -> 0L))
  }

  test("betweenness: diamond splits dependency by path counts (sigma=2)") {
    val e = edges(("A", "B", 1), ("A", "C", 1), ("B", "D", 1), ("C", "D", 1))
    val got = GraphOps.betweenness(e, rounds = 3).collect()
      .map(r => r.getString(0) -> r.getLong(1)).toMap
    // sigma(A->D)=2: each middle node carries 1e6 div 2 of the (A,D) pair
    assert(got == Map(
      "A" -> 0L, "B" -> 500000L, "C" -> 500000L, "D" -> 0L))
  }

  test("betweenness: parity with an independent bounded-Brandes reference") {
    val n = 12
    val names = (0 until n).map(i => s"n$i")
    val es = for {
      i <- 0 until n; j <- 0 until n
      if i != j && (i * 5 + j * 7) % 11 < 2
    } yield (names(i), names(j), 1.0)
    val adj = es.groupBy(_._1).map { case (k, v) => k -> v.map(_._2) }
    val inGraph = es.flatMap(e => Seq(e._1, e._2)).toSet
    // reference: per-source sigma-BFS to `rounds` hops, then Brandes'
    // accumulation with the SAME per-term truncating scaled division
    val rounds = 3
    def refBetweenness(sources: Set[String]): Map[String, Long] = {
      val bcRef = scala.collection.mutable.Map[String, Long]().withDefaultValue(0L)
      for (s <- sources) {
        val dist = scala.collection.mutable.Map(s -> 0)
        val sigma = scala.collection.mutable.Map(s -> 1L)
        var frontier = Seq(s)
        for (d <- 1 to rounds) {
          val cand = frontier.flatMap(u => adj.getOrElse(u, Nil).map(v => (v, sigma(u))))
            .groupBy(_._1).map { case (v, xs) => v -> xs.map(_._2).sum }
            .filter { case (v, _) => !dist.contains(v) }
          cand.foreach { case (v, sg) => dist(v) = d; sigma(v) = sg }
          frontier = cand.keys.toSeq
        }
        val delta = scala.collection.mutable.Map[String, Long]().withDefaultValue(0L)
        for (d <- (rounds - 1) to 1 by -1; (u, du) <- dist if du == d) {
          var accum = 0L
          for (w <- adj.getOrElse(u, Nil) if dist.get(w).contains(d + 1))
            accum += sigma(u) * (1000000L + delta(w)) / sigma(w)
          delta(u) = accum
          bcRef(u) += accum
        }
      }
      bcRef.toMap.withDefaultValue(0L)
    }
    val bcRef = refBetweenness(inGraph)
    val got = GraphOps.betweenness(edges(es: _*), rounds = rounds).collect()
      .map(r => r.getString(0) -> r.getLong(1)).toMap
    assert(got.keySet == inGraph)
    inGraph.foreach(v => assert(got(v) == bcRef(v), s"node $v"))
    assert(got.values.exists(_ > 0L)) // fixture actually exercises the paths

    // Brandes–Pich sampled sources: the md5-bucket sample (the same hash
    // Sampling.sampleByHash applies) restricts the forward seeds, and the
    // result must equal the reference summed over EXACTLY those sources.
    import spark.implicits._
    val buckets = inGraph.toSeq.toDF("id")
      .select(col("id"), graft.ops.Sampling.hashBucket(col("id")).as("b"))
      .collect().map(r => r.getString(0) -> r.getLong(1)).toMap
    val frac = 0.5
    val sampled = inGraph.filter(v => buckets(v) < (frac * 1000000L).toLong)
    assert(sampled.nonEmpty && sampled != inGraph) // a strict nonempty subset
    val bcSampledRef = refBetweenness(sampled)
    val gotSampled = GraphOps.betweenness(edges(es: _*), rounds = rounds,
        sourceFraction = frac).collect()
      .map(r => r.getString(0) -> r.getLong(1)).toMap
    assert(gotSampled.keySet == inGraph) // output still covers every node
    inGraph.foreach(v => assert(gotSampled(v) == bcSampledRef(v), s"sampled $v"))
  }

  test("harmonic: exact scaled-integer reciprocal distances on a chain") {
    val e = edges(("A", "B", 1), ("B", "C", 1), ("X", "Y", 1))
    val got = GraphOps.harmonic(e, rounds = 3).collect()
      .map(r => r.getString(0) -> r.getLong(1)).toMap
    // A reaches B at 1, C at 2; B reaches C at 1; sinks score 0
    assert(got == Map(
      "A" -> 1500000L, "B" -> 1000000L, "C" -> 0L, "X" -> 1000000L, "Y" -> 0L))
  }

  test("scc: FW-BW pivot peeling finds directed components; leftovers stay UNDECIDED") {
    // SCCs: {A,B,C} (3-cycle), {D} (feeds A), {E,F} (2-cycle), G->H never pivoted
    val e = edges(("A", "B", 1), ("B", "C", 1), ("C", "A", 1),
      ("D", "A", 1), ("B", "E", 1), ("E", "F", 1), ("F", "E", 1), ("G", "H", 1))
    val got = GraphOps.scc(e, outerRounds = 3, innerRounds = 3).collect()
      .map(r => r.getString(0) -> r.getString(1)).toMap
    assert(got == Map(
      "A" -> "A", "B" -> "A", "C" -> "A",
      "D" -> "D",
      "E" -> "E", "F" -> "E",
      "G" -> "UNDECIDED", "H" -> "UNDECIDED"))
    // partition invariance
    val again = GraphOps.scc(e.repartition(5), outerRounds = 3, innerRounds = 3).collect()
      .map(r => r.getString(0) -> r.getString(1)).toMap
    assert(again == got)
  }

  test("neighborhoodFunction: exact N(r) + 90%-mass effective diameter on a path") {
    // directed path A->B->C->D: pairs at radius 0/1/2/3 = 4/3/2/1
    val e = edges(("A", "B", 1), ("B", "C", 1), ("C", "D", 1))
    val got = GraphOps.neighborhoodFunction(e, rounds = 3).collect()
      .map(r => (r.getLong(0), r.getLong(1), r.getLong(2), r.getBoolean(3)))
      .sortBy(_._1).toSeq
    // N = 4, 7, 9, 10; 0.9*10 = 9 -> first radius reaching it is 2
    assert(got == Seq(
      (0L, 4L, 4L, false), (1L, 3L, 7L, false),
      (2L, 2L, 9L, true), (3L, 1L, 10L, false)))
  }

  test("edgeDelta: added/removed/changed/stable classification is exhaustive") {
    import spark.implicits._
    val a = Seq(("A", "B", "pos", 2.0), ("A", "C", "pos", 3.0), ("X", "Y", "neg", 1.0))
      .toDF("source", "target", "sent", "c")
    val b = Seq(("A", "B", "pos", 2.0), ("A", "C", "pos", 5.0), ("N", "M", "neu", 1.0))
      .toDF("source", "target", "sent", "c")
    val got = GraphOps.edgeDelta(a, b).collect()
      .map(r => (r.getString(0), r.getString(1), r.getString(2)) ->
        ((r.getDouble(3), r.getDouble(4), r.getString(5)))).toMap
    assert(got == Map(
      ("A", "B", "pos") -> ((2.0, 2.0, "stable")),
      ("A", "C", "pos") -> ((3.0, 5.0, "changed")),
      ("X", "Y", "neg") -> ((1.0, 0.0, "removed")),
      ("N", "M", "neu") -> ((0.0, 1.0, "added"))))
  }

  test("hits: exact truncating hub/authority on a two-source funnel") {
    // A->C, B->C, C->D (unit weights), one iteration:
    // a_raw: C=2e6, D=1e6 -> asum=3e6 -> auth = raw div 3: C=666666, D=333333, A=B=0
    // h_raw: A=666666, B=666666, C=333333 -> hsum=1666665 -> div 1 -> hubs raw
    val e = edges(("A", "C", 1), ("B", "C", 1), ("C", "D", 1))
    val r1 = GraphOps.hits(e, iters = 1).collect()
      .map(r => (r.getString(0), (r.getLong(1), r.getLong(2)))).toMap
    assert(r1 == Map(
      "A" -> (666666L, 0L), "B" -> (666666L, 0L),
      "C" -> (333333L, 666666L), "D" -> (0L, 333333L)))
    // hubs/authorities separate: sources hold hub mass, sinks authority mass
    val r2 = GraphOps.hits(e, iters = 2).collect()
      .map(r => (r.getString(0), (r.getLong(1), r.getLong(2)))).toMap
    assert(r2("D")._1 == 0L && r2("A")._2 == 0L)
    // truncating div by max(1, sum div 1e6) bounds the L1 mass in [~1e6, 2e6)
    assert(r2.values.map(_._2).sum < 2000000L)
  }

  test("hits: small-graph driver fast path == distributed loop, bit for bit") {
    val e = edges(("A", "C", 3), ("B", "C", 1), ("C", "D", 2), ("D", "A", 1),
      ("A", "C", 1)) // duplicate edge folds into w=4 in prPrep on both paths
    def rows(df: DataFrame) = df.collect().map(_.toSeq).toSet
    for (it <- Seq(1, 2, 3))
      assert(rows(GraphOps.hits(e, iters = it)) ==
        rows(distributedOnly(GraphOps.hits(e, iters = it))), s"iters=$it")
  }

  test("pagerank family / katz / mis: driver fast path == distributed loop") {
    // a mixed graph: weights, a dangling sink, a 2-cycle, a self-loop,
    // parallel edges that fold, and an isolated dyad
    val e = edges(("A", "B", 2), ("B", "A", 1), ("B", "C", 3), ("C", "D", 1),
      ("A", "B", 1), ("E", "E", 4), ("X", "Y", 1))
    def rows(df: DataFrame) = df.collect().map(_.toSeq).toSet
    assert(rows(GraphOps.pageRank(e, iters = 3)) ==
      rows(distributedOnly(GraphOps.pageRank(e, iters = 3))))
    assert(rows(GraphOps.pageRankDangling(e, iters = 3)) ==
      rows(distributedOnly(GraphOps.pageRankDangling(e, iters = 3))))
    // epsilon stop must fire at the same round on both paths
    assert(rows(GraphOps.pageRankDangling(e, iters = 20, eps = 100000000L)) ==
      rows(distributedOnly(GraphOps.pageRankDangling(e, iters = 20, eps = 100000000L))))
    assert(rows(GraphOps.personalizedPageRank(e, "A", iters = 3)) ==
      rows(distributedOnly(GraphOps.personalizedPageRank(e, "A", iters = 3))))
    // a source outside the graph ranks every node 0 on both paths
    val absent = rows(GraphOps.personalizedPageRank(e, "NOPE", iters = 2))
    assert(absent == rows(distributedOnly(GraphOps.personalizedPageRank(e, "NOPE", iters = 2))))
    assert(absent.forall(_(1) == 0L) && absent.size == 7)
    // several seeds: mass and teleport split over k = 3 on both paths
    val seeds = col("id").isin("A", "C", "X")
    assert(rows(GraphOps.trustRank(e, seeds, iters = 3)) ==
      rows(distributedOnly(GraphOps.trustRank(e, seeds, iters = 3))))
    assert(rows(GraphOps.spamMass(e, seeds, iters = 3)) ==
      rows(distributedOnly(GraphOps.spamMass(e, seeds, iters = 3))))
    val prev = GraphOps.pageRank(e, iters = 2)
    assert(rows(GraphOps.pageRankResume(e, prev, iters = 1)) ==
      rows(distributedOnly(GraphOps.pageRankResume(e, prev, iters = 1))))
    // resume == full run, through the fast path too
    assert(rows(GraphOps.pageRankResume(e, prev, iters = 1)) ==
      rows(GraphOps.pageRank(e, iters = 3)))
    assert(rows(GraphOps.katz(e, rounds = 3)) ==
      rows(distributedOnly(GraphOps.katz(e, rounds = 3))))
    assert(rows(GraphOps.maximalIndependentSet(e, rounds = 3)) ==
      rows(distributedOnly(GraphOps.maximalIndependentSet(e, rounds = 3))))
    // an undecided-leaving round budget must also agree
    assert(rows(GraphOps.maximalIndependentSet(e, rounds = 1)) ==
      rows(distributedOnly(GraphOps.maximalIndependentSet(e, rounds = 1))))
  }

  test("wedge family / wl / ktruss: driver fast path == distributed loop") {
    // two overlapping triangles + a pendant + a hub — triangles, shared
    // neighbors, a degree-1 node (AA-excluded) and a cap-exercising hub
    val e = edges(("A", "B", 1), ("B", "C", 1), ("A", "C", 1), ("B", "D", 1),
      ("C", "D", 1), ("D", "E", 1), ("H", "A", 1), ("H", "B", 1), ("H", "C", 1),
      ("H", "D", 1))
    def rows(df: DataFrame) = df.collect().map(_.toSeq).toSet
    assert(rows(GraphOps.trianglesOfSimple(GraphOps.undirectedSimple(e))) ==
      rows(distributedOnly(GraphOps.trianglesOfSimple(GraphOps.undirectedSimple(e)))))
    assert(rows(GraphOps.clusteringCoeff(e)) ==
      rows(distributedOnly(GraphOps.clusteringCoeff(e))))
    for (r <- Seq(1, 2))
      assert(rows(GraphOps.wlLabels(e, rounds = r)) ==
        rows(distributedOnly(GraphOps.wlLabels(e, rounds = r))), s"wl r=$r")
    for (k <- Seq(2L, 3L, 4L))
      assert(rows(GraphOps.kTruss(e, k = k)) ==
        rows(distributedOnly(GraphOps.kTruss(e, k = k))), s"ktruss k=$k")
    for (cap <- Seq(3L, 10000L)) {
      assert(rows(GraphOps.neighborJaccard(e, maxDegree = cap)) ==
        rows(distributedOnly(GraphOps.neighborJaccard(e, maxDegree = cap))), s"nj $cap")
      assert(rows(GraphOps.adamicAdar(e, maxDegree = cap)) ==
        rows(distributedOnly(GraphOps.adamicAdar(e, maxDegree = cap))), s"aa $cap")
    }
  }

  test("sssp / bowTie: driver fast path == distributed loop") {
    // plus a self-loop and a parallel edge, which the preps drop and merge
    val e = edges(("A", "B", 4), ("B", "C", 2), ("A", "C", 1), ("C", "D", 5),
      ("D", "A", 1), ("X", "Y", 2), ("C", "C", 3), ("A", "B", 2))
    def rows(df: DataFrame) = df.collect().map(_.toSeq).toSet
    onDriver("sssp", "bowTie") {
      for (r <- Seq(1, 4, 5)) {
        assert(rows(GraphOps.sssp(e, "A", rounds = r)) ==
          rows(distributedOnly(GraphOps.sssp(e, "A", rounds = r))), s"sssp r=$r")
        assert(rows(GraphOps.bowTie(e, rounds = r)) ==
          rows(distributedOnly(GraphOps.bowTie(e, rounds = r))), s"bowtie r=$r")
      }
    }
  }

  test("bfs family: driver fast path == distributed loop") {
    // directed chain + branch + unreachable island; D unreached at rounds=1;
    // a self-loop and a parallel edge, which the shared prep drops and merges
    val e = edges(("A", "B", 1), ("B", "C", 1), ("C", "D", 1), ("A", "C", 1),
      ("X", "Y", 1), ("D", "A", 1), ("B", "B", 1), ("A", "B", 2))
    def rows(df: DataFrame) = df.collect().map(_.toSeq).toSet
    onDriver("bfs", "harmonic", "closeness", "neighborhoodFunction") {
      // rounds 5 runs rounds past the fixpoint, which add nothing
      for (r <- Seq(1, 3, 5)) {
        assert(rows(GraphOps.harmonic(e, rounds = r)) ==
          rows(distributedOnly(GraphOps.harmonic(e, rounds = r))), s"harmonic r=$r")
        assert(rows(GraphOps.closeness(e, rounds = r)) ==
          rows(distributedOnly(GraphOps.closeness(e, rounds = r))), s"closeness r=$r")
        assert(rows(GraphOps.neighborhoodFunction(e, rounds = r)) ==
          rows(distributedOnly(GraphOps.neighborhoodFunction(e, rounds = r))), s"nf r=$r")
        assert(rows(GraphOps.bfs(e, "A", rounds = r)) ==
          rows(distributedOnly(GraphOps.bfs(e, "A", rounds = r))), s"bfs r=$r")
      }
      // a source with no out-edges still reports itself at distance 0
      assert(rows(GraphOps.bfs(e, "Y", rounds = 2)) ==
        rows(distributedOnly(GraphOps.bfs(e, "Y", rounds = 2))))
    }
  }

  test("walks: driver fast path == distributed loop (first and second order)") {
    // branching, a sink (D), a cycle, and a dyad — exercises sink
    // truncation, the uniform first hop and all three n2v multiplicities
    val e = edges(("A", "B", 1), ("A", "C", 1), ("B", "C", 1), ("C", "A", 1),
      ("C", "D", 1), ("X", "Y", 1), ("Y", "X", 1))
    def rows(df: DataFrame) = df.collect().map(_.toSeq).toSet
    for (len <- Seq(1, 4))
      assert(rows(GraphOps.randomWalks(e, walkLen = len)) ==
        rows(distributedOnly(GraphOps.randomWalks(e, walkLen = len))), s"rw len=$len")
    assert(rows(GraphOps.node2vecWalks(e, walkLen = 4)) ==
      rows(distributedOnly(GraphOps.node2vecWalks(e, walkLen = 4))))
    assert(rows(GraphOps.node2vecWalks(e, walkLen = 3, returnMult = 3,
        sharedMult = 1, awayMult = 2)) ==
      rows(distributedOnly(GraphOps.node2vecWalks(e, walkLen = 3, returnMult = 3,
        sharedMult = 1, awayMult = 2))))
  }

  test("scc / kcore: driver fast path == distributed loop") {
    // 2-cycle + 3-cycle + a bridge + a tail (peels off), plus a dyad, a
    // self-loop and a parallel edge
    val e = edges(("A", "B", 1), ("B", "A", 1), ("C", "D", 1), ("D", "E", 1),
      ("E", "C", 1), ("B", "C", 1), ("E", "F", 1), ("X", "Y", 1), ("C", "C", 1),
      ("A", "B", 2))
    def rows(df: DataFrame) = df.collect().map(_.toSeq).toSet
    onDriver("scc", "kCore") {
      for ((o, i) <- Seq((3, 3), (1, 1), (2, 2), (3, 5)))
        assert(rows(GraphOps.scc(e, o, i)) ==
          rows(distributedOnly(GraphOps.scc(e, o, i))), s"scc outer=$o inner=$i")
      for (k <- Seq(1L, 2L))
        assert(rows(GraphOps.kCore(e, k = k)) ==
          rows(distributedOnly(GraphOps.kCore(e, k = k))), s"kcore k=$k")
    }
  }

  test("lpa/modularity: small-graph driver fast path == distributed loop") {
    val e = edges(("A", "B", 2), ("B", "C", 2), ("A", "C", 2),
      ("D", "E", 2), ("E", "F", 2), ("D", "F", 2), ("C", "D", 1), ("G", "G", 5))
    def rows(df: DataFrame) = df.collect().map(_.toSeq).toSet
    for (r <- Seq(1, 3))
      assert(rows(GraphOps.labelPropagation(e, rounds = r)) ==
        rows(distributedOnly(GraphOps.labelPropagation(e, rounds = r))), s"lpa r=$r")
    assert(rows(GraphOps.modularity(e)) ==
      rows(distributedOnly(GraphOps.modularity(e))))
  }

  test("labelPropagation: a weakly-bridged barbell splits into two communities") {
    // two triangles (internal weight 2) joined by a weight-1 bridge C-D:
    // connectedComponents sees ONE component; LPA separates the communities
    val e = edges(("A", "B", 2), ("B", "C", 2), ("A", "C", 2),
      ("D", "E", 2), ("E", "F", 2), ("D", "F", 2), ("C", "D", 1))
    val got = GraphOps.labelPropagation(e, rounds = 3).collect()
      .map(r => (r.getString(0), r.getString(1))).toMap
    assert(got == Map("A" -> "A", "B" -> "A", "C" -> "A",
      "D" -> "D", "E" -> "D", "F" -> "D"))
    assert(GraphOps.connectedComponents(e).select("cluster").distinct().count() == 1)
  }

  test("louvainMoves: one color sweep splits the weakly-bridged barbell into its triangles") {
    // same barbell as the LPA case: two weight-2 triangles, weight-1 bridge.
    // Expectations hand-derived (and pinned against an independent python
    // simulation of the integer-gain + color-schedule semantics).
    val e = edges(("A", "B", 2), ("B", "C", 2), ("A", "C", 2),
      ("D", "E", 2), ("E", "F", 2), ("D", "F", 2), ("C", "D", 1))
    val got = GraphOps.louvainMoves(e, rounds = 4).collect()
      .map(r => (r.getString(0), r.getString(1))).toMap
    // each triangle collapses; D (bridge end) joins its own triangle, not
    // C's, because 2·w internal beats the weight-1 bridge
    assert(got == Map("A" -> "A", "B" -> "A", "C" -> "A",
      "D" -> "E", "E" -> "E", "F" -> "E"))
  }

  test("louvainMoves: dyads merge (no synchronous label swap); star collapses to the hub") {
    // two disconnected edges — pure synchronous argmax would swap labels
    // forever; color scheduling + the singleton min-label guard converge
    val e = edges(("A", "B", 1), ("C", "D", 1))
    val got = GraphOps.louvainMoves(e, rounds = 4).collect()
      .map(r => (r.getString(0), r.getString(1))).toMap
    assert(got == Map("A" -> "A", "B" -> "A", "C" -> "C", "D" -> "C"))
    val star = edges(("H", "S1", 1), ("H", "S2", 1), ("H", "S3", 1), ("H", "S4", 1))
    val gs = GraphOps.louvainMoves(star, rounds = 4).collect()
      .map(r => (r.getString(0), r.getString(1))).toMap
    assert(gs.values.toSet == Set("H"))
  }

  test("communityProfile: barbell rollup — sizes, degree mass, internal weight, representative") {
    // barbell communities {A,B,C} (label A) and {D,E,F} (label E); internal
    // weight 6 each (3 edges × w2 -> in2_w 12); C and D carry the bridge
    // (ki 5), so they are the max-ki representatives (ties impossible here:
    // C in A's community, D in E's)
    val e = edges(("A", "B", 2), ("B", "C", 2), ("A", "C", 2),
      ("D", "E", 2), ("E", "F", 2), ("D", "F", 2), ("C", "D", 1))
    val got = GraphOps.communityProfile(e).collect()
      .map(r => r.getString(0) ->
        (r.getLong(1), r.getLong(2), r.getLong(3), r.getString(4))).toMap
    assert(got == Map(
      "A" -> (3L, 13L, 12L, "C"),
      "E" -> (3L, 13L, 12L, "D")))
  }

  test("louvain family: small-graph driver fast path == distributed loop, bit for bit") {
    // distributedOnly forces the distributed per-round loop; the default takes
    // the one-collect driver path on these fixtures. Mixed weights + a
    // bridge exercise the color schedule, the stay row, the singleton-swap
    // guard and the (score desc, label asc) argmax on both paths.
    val e = edges(("A", "B", 2), ("B", "C", 2), ("A", "C", 2),
      ("D", "E", 2), ("E", "F", 2), ("D", "F", 2), ("C", "D", 1),
      ("F", "F", 9), ("B", "A", 1)) // self-loop dropped, reverse edge folds in
    def rows(df: DataFrame) = df.collect().map(_.toSeq).toSet
    assert(rows(GraphOps.louvainMoves(e, rounds = 4)) ==
      rows(distributedOnly(GraphOps.louvainMoves(e, rounds = 4))))
    assert(rows(GraphOps.louvainCoarsen(e)) ==
      rows(distributedOnly(GraphOps.louvainCoarsen(e))))
    assert(rows(GraphOps.communityProfile(e)) ==
      rows(distributedOnly(GraphOps.communityProfile(e))))
  }

  test("louvainCoarsen: barbell collapses to 2 supernodes; level-2 moves merge them") {
    val e = edges(("A", "B", 2), ("B", "C", 2), ("A", "C", 2),
      ("D", "E", 2), ("E", "F", 2), ("D", "F", 2), ("C", "D", 1))
    val got = GraphOps.louvainCoarsen(e).collect()
      .map(r => (r.getString(0), r.getString(1)) -> r.getLong(2)).toMap
    // communities A={A,B,C}, E={D,E,F}: self-loops 2*(2+2+2)=12, bridge 1
    assert(got == Map(("A", "A") -> 12L, ("E", "E") -> 12L, ("A", "E") -> 1L))
    // phase-2: the coarse relation feeds straight back through the mover —
    // two supernodes joined by the bridge merge at the next level
    import spark.implicits._
    val coarse = GraphOps.louvainCoarsen(e).collect()
      .map(r => (r.getString(0), r.getString(1), "c", r.getLong(2).toDouble)).toSeq
      .toDF("source", "target", "sent", "c")
    val l2 = GraphOps.louvainMoves(coarse, rounds = 4).collect()
      .map(r => (r.getString(0), r.getString(1))).toMap
    assert(l2.values.toSet.size == 1) // one community at level 2
  }

  test("wlLabels: isomorphic components share colors; refinement separates path ends from middle") {
    // two disjoint triangles (isomorphic) + a 3-path: triangle nodes all
    // one color; path endpoints one color, the middle another — and no
    // triangle color equals any path color (degree-2 middle differs by
    // neighborhood structure after round 2... actually the middle of the
    // path has degree 2 like triangle nodes but degree-1 neighbors)
    val e = edges(("A", "B", 1), ("B", "C", 1), ("A", "C", 1),
      ("P", "Q", 1), ("Q", "R", 1), ("P", "R", 1),
      ("X", "Y", 1), ("Y", "Z", 1))
    val got = GraphOps.wlLabels(e, rounds = 2).collect()
      .map(r => (r.getString(0), r.getString(1))).toMap
    val tri = Set("A", "B", "C", "P", "Q", "R").map(got)
    assert(tri.size == 1) // all six triangle nodes structurally equivalent
    assert(got("X") == got("Z") && got("X") != got("Y"))
    assert(!tri.contains(got("Y")) && !tri.contains(got("X")))
  }

  test("adamicAdar: shared neighbors weighted by 1e6 div ilog2(degree), exactly") {
    // square A-B-C-D-A + diagonal A-C + pendant A-E:
    // deg A=4 (ilog2=2 -> 500000 per share), deg C=3 (ilog2=1 -> 1000000),
    // deg B=D=2 (ilog2=1 -> 1000000)
    val e = edges(("A", "B", 1), ("B", "C", 1), ("C", "D", 1), ("D", "A", 1),
      ("A", "C", 1), ("A", "E", 1))
    val got = GraphOps.adamicAdar(e).collect()
      .map(r => ((r.getString(0), r.getString(1)), (r.getLong(2), r.getLong(3)))).toMap
    assert(got == Map(
      ("A", "B") -> (1L, 1000000L),  // share C
      ("A", "C") -> (2L, 2000000L),  // share B, D
      ("A", "D") -> (1L, 1000000L),  // share C
      ("B", "C") -> (1L, 500000L),   // share A
      ("B", "D") -> (2L, 1500000L),  // share A, C
      ("B", "E") -> (1L, 500000L),   // share A
      ("C", "D") -> (1L, 500000L),   // share A
      ("C", "E") -> (1L, 500000L),   // share A
      ("D", "E") -> (1L, 500000L)))  // share A
  }

  test("kCore: a pendant chain peels away round by round, the clique survives") {
    // triangle A-B-C plus chain C-D-E: E drops in round 1, D (now degree 1)
    // drops in round 2, the triangle is the 2-core with degree 2 each
    val e = edges(("A", "B", 1), ("B", "C", 1), ("A", "C", 1),
      ("C", "D", 1), ("D", "E", 1))
    val one = GraphOps.kCore(e, k = 2, rounds = 1).collect()
      .map(r => (r.getString(0), r.getLong(1))).toMap
    assert(one.keySet == Set("A", "B", "C", "D")) // E gone, D still held by C
    val got = GraphOps.kCore(e, k = 2, rounds = 4).collect()
      .map(r => (r.getString(0), r.getLong(1))).toMap
    assert(got == Map("A" -> 2L, "B" -> 2L, "C" -> 2L))
    // rounds past the fixpoint are no-ops
    assert(GraphOps.kCore(e, k = 2, rounds = 8).collect()
      .map(r => (r.getString(0), r.getLong(1))).toMap == got)
    // k above the max degree empties the graph
    assert(GraphOps.kCore(e, k = 3, rounds = 4).count() == 0)
  }

  test("neighborJaccard: maxDegree drops hub neighbors from wedge generation") {
    // star: H connected to A,B,C — every leaf pair shares only hub H
    val e = edges(("H", "A", 1), ("H", "B", 1), ("H", "C", 1))
    assert(GraphOps.neighborJaccard(e).count() == 3)
    assert(GraphOps.neighborJaccard(e, maxDegree = 2).count() == 0)
  }
}
