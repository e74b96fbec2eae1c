package graft.graph

import org.scalatest.funsuite.AnyFunSuite
import graft.{BothPaths, SparkTestSession}
import org.apache.spark.sql.functions._

class PageRankSpec extends AnyFunSuite with SparkTestSession with BothPaths {

  /** Local reference implementation of the exact recurrence (same integer
    * arithmetic, driver-side maps). */
  private def localPageRank(edges: Seq[(String, String, Long)], iters: Int): Map[String, Long] = {
    val ew = edges.groupBy(e => (e._1, e._2)).view.mapValues(_.map(_._3).sum).toMap
    val ow = ew.groupBy(_._1._1).view.mapValues(_.values.sum).toMap
    val nodes = (ew.keys.map(_._1) ++ ew.keys.map(_._2)).toSet
    val t = 1000000000000L / nodes.size
    val base = (15L * t) / 100L
    var r = nodes.map(_ -> t).toMap
    for (_ <- 1 to iters) {
      val cin = ew.toSeq
        .map { case ((u, v), w) => v -> (85L * r(u) * w) / (100L * ow(u)) }
        .groupBy(_._1).view.mapValues(_.map(_._2).sum).toMap
      r = nodes.map(v => v -> (base + cin.getOrElse(v, 0L))).toMap
    }
    r
  }

  private val edges = Seq(
    ("a", "b", 3L), ("a", "c", 1L), ("b", "c", 2L),
    ("c", "a", 1L), ("d", "c", 5L)) // d is a source-only node; no edge into d

  private def edgesDf = edgesIn(spark)

  private def edgesIn(session: org.apache.spark.sql.SparkSession) = {
    import session.implicits._
    edges.map { case (s, t, c) => (s, t, "pos", c.toDouble) }
      .toDF("source", "target", "sent", "c")
  }

  test("action profile: no count job in the prep; dangling eps = 0 adds only the sinks checkpoint") {
    for ((path, run) <- Seq[(String, (=> Unit) => Unit)](
        "default" -> (body => body),
        "distributedOnly" -> (body => graft.exec.Bounded.distributedOnly(body)))) {
      // the node count rides the nodes checkpoint
      val pr = actions(s => run(GraphOps.pageRank(edgesIn(s), iters = 3).collect()))
      assert(!pr.contains("count"), s"$path: pageRank launches a count action: $pr")
      // at eps = 0 the dangling loop neither observes nor checkpoints per round
      val dang = actions(s => run(GraphOps.pageRankDangling(edgesIn(s), iters = 3).collect()))
      assert(dang.size <= pr.size + 1, s"$path: pageRankDangling $dang vs pageRank $pr")
    }
  }

  test("matches the local reference recurrence exactly") {
    val expected = localPageRank(edges, iters = 3)
    val got = GraphOps.pageRank(edgesDf, iters = 3)
      .collect().map(r => r.getString(0) -> r.getLong(1)).toMap
    assert(got == expected)
    // sanity on the values themselves: d (no in-edges) ranks below everything
    assert(Seq("a", "b", "c").forall(v => got(v) > got("d")))
    // d has no in-edges: teleport mass only
    assert(got("d") == (15L * (1000000000000L / 4)) / 100L)
  }

  test("bit-identical under repartitioning (integer arithmetic, no float order)") {
    val a = GraphOps.pageRank(edgesDf.repartition(7), iters = 3)
      .collect().map(r => r.getString(0) -> r.getLong(1)).toMap
    val b = GraphOps.pageRank(edgesDf.coalesce(1), iters = 3)
      .collect().map(r => r.getString(0) -> r.getLong(1)).toMap
    assert(a == b)
  }

  test("mass never exceeds the fixed-point total; every node keeps teleport mass") {
    val rows = GraphOps.pageRank(edgesDf, iters = 4).collect()
    val total = rows.map(_.getLong(1)).sum
    assert(total <= 1000000000000L, s"mass inflated: $total")
    val base = (15L * (1000000000000L / 4)) / 100L
    assert(rows.forall(_.getLong(1) >= base))
  }

  test("guards: fractional (normalized) weights raise instead of truncating to teleport-only") {
    import spark.implicits._
    val normalized = Seq(("a", "b", "pos", 0.5), ("b", "a", "pos", 1.0))
      .toDF("source", "target", "sent", "c")
    val ex = intercept[Exception] {
      GraphOps.pageRank(normalized, iters = 1).collect()
    }
    assert(ex.getMessage.contains("integral edge weights"), ex.getMessage)
    val huge = Seq(("a", "b", "pos", 200000.0), ("b", "a", "pos", 1.0))
      .toDF("source", "target", "sent", "c")
    val ex2 = intercept[Exception] {
      GraphOps.pageRank(huge, iters = 1).collect()
    }
    assert(ex2.getMessage.contains("out of (0, 100000]"), ex2.getMessage)
  }

  /** Local reference for the dangling-redistribute + epsilon-stop variant. */
  private def localDangling(edges: Seq[(String, String, Long)], iters: Int,
      eps: Long): Map[String, Long] = {
    val ew = edges.groupBy(e => (e._1, e._2)).view.mapValues(_.map(_._3).sum).toMap
    val ow = ew.groupBy(_._1._1).view.mapValues(_.values.sum).toMap
    val nodes = (ew.keys.map(_._1) ++ ew.keys.map(_._2)).toSet
    val dang = nodes.filterNot(ow.contains)
    val n = nodes.size
    val t = 1000000000000L / n
    val base = (15L * t) / 100L
    var r = nodes.map(_ -> t).toMap
    var delta = Long.MaxValue
    var it = 0
    while (it < iters && delta > eps) {
      val dm = dang.toSeq.map(r).sum
      val dshare = (85L * dm) / (100L * n)
      val cin = ew.toSeq
        .map { case ((u, v), w) => v -> (85L * r(u) * w) / (100L * ow(u)) }
        .groupBy(_._1).view.mapValues(_.map(_._2).sum).toMap
      val next = nodes.map(v => v -> (base + dshare + cin.getOrElse(v, 0L))).toMap
      delta = nodes.map(v => math.abs(next(v) - r(v))).max
      r = next
      it += 1
    }
    r
  }

  // b has NO out-edges: true dangling node whose mass must be redistributed
  private val dangEdges = Seq(("a", "b", 2L), ("c", "b", 1L), ("a", "c", 1L))

  private def dangEdgesDf = {
    import spark.implicits._
    dangEdges.map { case (s, t, c) => (s, t, "pos", c.toDouble) }
      .toDF("source", "target", "sent", "c")
  }

  test("dangling variant matches the local redistribute reference; mass is conserved") {
    val expected = localDangling(dangEdges, iters = 3, eps = 0L)
    val got = GraphOps.pageRankDangling(dangEdgesDf, iters = 3)
      .collect().map(r => r.getString(0) -> r.getLong(1)).toMap
    assert(got == expected)
    // redistribution conserves mass up to floor losses (each round drops < 1
    // unit per edge contribution + per node share): drop-dangling would lose
    // b's entire accumulated mass instead
    val total = got.values.sum
    assert(total > 1000000000000L - 1000L && total <= 1000000000000L, s"mass: $total")
    val dropped = GraphOps.pageRank(dangEdgesDf, iters = 3)
      .collect().map(_.getLong(1)).sum
    assert(total > dropped, s"redistribute ($total) should retain more mass than drop ($dropped)")
  }

  test("epsilon stop: huge eps stops after one round; eps=0 runs to the iteration cap") {
    val oneRound = GraphOps.pageRankDangling(dangEdgesDf, iters = 10, eps = 999999999999L)
      .collect().map(r => r.getString(0) -> r.getLong(1)).toMap
    assert(oneRound == localDangling(dangEdges, iters = 1, eps = 0L))
    val capped = GraphOps.pageRankDangling(dangEdgesDf, iters = 4, eps = 0L)
      .collect().map(r => r.getString(0) -> r.getLong(1)).toMap
    assert(capped == localDangling(dangEdges, iters = 4, eps = 0L))
    // mid eps: stops at the same round the local reference stops at
    val mid = GraphOps.pageRankDangling(dangEdgesDf, iters = 20, eps = 1000000000L)
      .collect().map(r => r.getString(0) -> r.getLong(1)).toMap
    assert(mid == localDangling(dangEdges, iters = 20, eps = 1000000000L))
    // guard: eps must stay under the oracle's initial-delta sentinel
    intercept[IllegalArgumentException] {
      GraphOps.pageRankDangling(dangEdgesDf, iters = 1, eps = 1000000000000L)
    }
  }

  test("dangling variant is bit-identical under repartitioning") {
    val a = GraphOps.pageRankDangling(dangEdgesDf.repartition(7), iters = 3)
      .collect().map(r => r.getString(0) -> r.getLong(1)).toMap
    val b = GraphOps.pageRankDangling(dangEdgesDf.coalesce(1), iters = 3)
      .collect().map(r => r.getString(0) -> r.getLong(1)).toMap
    assert(a == b)
  }

  test("pageRankResume: warm start continues the iteration bit-for-bit") {
    import spark.implicits._
    val e = Seq(("a", "b", "pos", 2.0), ("b", "c", "pos", 1.0), ("c", "a", "neg", 3.0),
      ("a", "c", "pos", 1.0)).toDF("source", "target", "sent", "c")
    val full = GraphOps.pageRank(e, iters = 4)
      .collect().map(r => r.getString(0) -> r.getLong(1)).toMap
    val resumed = GraphOps.pageRankResume(e, GraphOps.pageRank(e, iters = 2), iters = 2)
      .collect().map(r => r.getString(0) -> r.getLong(1)).toMap
    assert(resumed == full)
  }

  test("pageRankResume: nodes missing from the snapshot start at the uniform share") {
    import spark.implicits._
    val e = Seq(("a", "b", "pos", 1.0), ("b", "a", "pos", 1.0)).toDF("source", "target", "sent", "c")
    // a snapshot that never saw node b: b resumes from 10^12 div 2
    val partial = Seq(("a", 600000000000L)).toDF("id", "r")
    val got = GraphOps.pageRankResume(e, partial, iters = 1)
      .collect().map(r => r.getString(0) -> r.getLong(1)).toMap
    // base = 15*(1e12 div 2) div 100 = 75e9; contribs: a<-85*T_b/100, b<-85*600e9/100
    assert(got == Map(
      "a" -> (75000000000L + 85L * 500000000000L / 100L),
      "b" -> (75000000000L + 85L * 600000000000L / 100L)))
  }

  bothPaths("pageRankResume: a snapshot rank that overflows 85 * r * w raises, never wraps") {
    import spark.implicits._
    val e = Seq(("A", "B", "pos", 2.0), ("B", "C", "pos", 1.0), ("C", "A", "pos", 1.0))
      .toDF("source", "target", "sent", "c")
    // 85 * 10^17 * 2 > 2^63: Spark's ANSI multiply raises; so must the replay
    val prev = Seq(("A", 100000000000000000L)).toDF("id", "r")
    val ex = intercept[Exception](GraphOps.pageRankResume(e, prev, 1).collect())
    val messages = Iterator.iterate[Throwable](ex)(_.getCause).takeWhile(_ != null)
      .map(t => String.valueOf(t.getMessage).toLowerCase)
    assert(messages.exists(_.contains("overflow")), ex.toString)
  }

  test("multigraph edges (parallel sents) collapse into one weight") {
    import spark.implicits._
    val multi = Seq(("a", "b", "pos", 2.0), ("a", "b", "neg", 1.0), ("b", "a", "pos", 1.0))
      .toDF("source", "target", "sent", "c")
    val got = GraphOps.pageRank(multi, iters = 3)
      .collect().map(r => r.getString(0) -> r.getLong(1)).toMap
    val expected = localPageRank(Seq(("a", "b", 3L), ("b", "a", 1L)), iters = 3)
    assert(got == expected)
  }
}
