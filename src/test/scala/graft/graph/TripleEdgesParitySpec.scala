package graft.graph

import org.apache.spark.sql.DataFrame
import org.apache.spark.sql.functions._
import org.scalatest.funsuite.AnyFunSuite
import graft.core.{Graph, GraphLink, GraphNode, Triple}

/** [[GraphBuilder.tripleEdges]] + [[GraphBuilder.collectedGraph]] against the
  * row-level graph build Infer ran before them, copied below as the oracle:
  * same edge state, same filtered edges, same nodes, same order. */
class TripleEdgesParitySpec extends AnyFunSuite with graft.SparkTestSession {
  import spark.implicits._

  /** The row-level build: last-occurrence type map over every side row,
    * broadcast-keyed relation rows, distributed node rollup, sorted collects. */
  private def oracle(t: DataFrame, minLinks: Double): (Set[(String, String, String, Long)], Graph) = {
    val sides = t.select(col("subj").as("value"), col("subjType").as("type"),
        struct(col("docId"), col("sentInd"), col("sampleId"), lit(0).as("side")).as("ord"))
      .union(t.select(col("obj"), col("objType"),
        struct(col("docId"), col("sentInd"), col("sampleId"), lit(1).as("side"))))
    val typeMap = sides.groupBy("value").agg(max_by(col("type"), col("ord")).as("type"))
    val rels = t.select(col("subj").as("source"), col("obj").as("target"), col("pred").as("sent"))
    val keyed = GraphBuilder.withNodeKeys(rels, typeMap)
    val state = GraphBuilder.edgeState(keyed).collect()
      .map(r => (r.getString(0), r.getString(1), r.getString(2), r.getLong(3))).toSet
    val edges = GraphBuilder.edges(keyed, minLinks)
    val nodes = GraphBuilder.nodes(edges)
    val graph = Graph(Seq("g"), "[g]",
      nodes.orderBy("id").collect().map(r => GraphNode(r.getString(0), r.getDouble(1))).toSeq,
      edges.orderBy("source", "target", "sent").collect().map(r =>
        GraphLink(r.getString(0), r.getString(1), r.getDouble(3), r.getString(2))).toSeq)
    (state, graph)
  }

  private def built(t: DataFrame, minLinks: Double): (Set[(String, String, String, Long)], Graph, Long) = {
    val b = GraphBuilder.tripleEdges(t)
    val state = b.state.collect()
      .map(r => (r.getString(0), r.getString(1), r.getString(2), r.getLong(3))).toSet
    val graph = GraphBuilder.collectedGraph("g",
      GraphBuilder.edgesFromState(b.state, minLinks).collect().toSeq)
    val n = b.triples
    b.unpersist()
    (state, graph, n)
  }

  /** The built graph at each `minLinks`, after checking it against the oracle. */
  private def assertParity(rows: Seq[Triple], minLinks: Double*): Seq[Graph] = {
    val t = rows.toDF().repartition(3)
    minLinks.map { m =>
      val (oState, oGraph) = oracle(t, m)
      val (state, graph, n) = built(t, m)
      assert(state == oState, s"edge state, minLinks $m")
      assert(graph == oGraph, s"graph and order, minLinks $m")
      assert(n == rows.length, "triples summed from the multiplicities")
      graph
    }
  }

  private def tr(subj: String, subjType: String, pred: String, obj: String, objType: String,
      doc: String = "d0", sent: Int = 0, sample: String = "u#0") =
    Triple(subj, subjType, pred, obj, objType, doc, sent, sample)

  test("functional types: every value single-typed, raw values merging into one node key") {
    val rows = Seq(
      tr("X.", "ORG", "pos", "bob", "PERSON"),
      tr("X", "ORG", "pos", "bob", "PERSON"),
      tr("X", "ORG", "pos", "bob", "PERSON", doc = "d1"),
      tr("a.b", "ORG", "neg", "X.", "ORG"),
      tr("a·b", "ORG", "neg", "X", "ORG"),
      tr("bob", "PERSON", "neu", "bob", "PERSON"), // self-pair
      tr("bob", "PERSON", "neu", "bob", "PERSON", sent = 3),
      tr("usa", "GPE", "neg", "a.b", "ORG"))
    val Seq(_, g) = assertParity(rows, 1, 2)
    // minLinks 2: X./X merge to ORG.X (3 links), a.b/a·b to ORG.a·b (2), the self-pair (2)
    assert(g.links == Seq(
      GraphLink("ORG.X", "PERSON.bob", 3.0, "pos"),
      GraphLink("ORG.a·b", "ORG.X", 2.0, "neg"),
      GraphLink("PERSON.bob", "PERSON.bob", 2.0, "neu")))
    assert(g.nodes.map(_.id) == Seq("ORG.X", "ORG.a·b", "PERSON.bob"))
  }

  test("multi-typed values take the last occurrence: object-side winner, sampleId string order") {
    val rows = Seq(
      // amb: ORG on the subject side, GPE on the object side of the same
      // sample; the object side orders last, so GPE wins
      tr("amb", "ORG", "pos", "x", "LOC", doc = "d1", sample = "u#1"),
      tr("y", "LOC", "neg", "amb", "GPE", doc = "d1", sample = "u#1"),
      tr("amb", "PERSON", "neu", "y", "LOC", doc = "d0", sample = "u#5"),
      // tb: u#9 orders after u#10 as a string, so ORG wins over LOC
      tr("tb", "ORG", "pos", "x", "LOC", doc = "d2", sample = "u#9"),
      tr("tb", "LOC", "pos", "x", "LOC", doc = "d2", sample = "u#10"),
      tr("tb", "LOC", "neg", "y", "LOC", doc = "d2", sample = "u#10"),
      // nul: never typed -> UNKNOWN; half: typed and untyped, last is untyped
      tr("nul", null, "pos", "x", "LOC"),
      tr("half", "ORG", "neg", "nul", null, doc = "d3"),
      tr("x", "LOC", "neg", "half", null, doc = "d4"))
    val Seq(g1, g) = assertParity(rows, 1, 2)
    assert(Set("GPE.amb", "ORG.tb", "UNKNOWN.nul", "UNKNOWN.half").subsetOf(g1.nodes.map(_.id).toSet))
    assert(g.links == Seq(GraphLink("ORG.tb", "LOC.x", 2.0, "pos")))
  }

  test("null values and labels: null labels dropped, null values keyed UNKNOWN, all rows counted") {
    val rows = Seq(
      tr(null, "ORG", "pos", "x", "LOC"),
      tr("x", "LOC", null, "y", "LOC"),
      tr("x", "LOC", "neg", null, null),
      tr("x", "LOC", "neg", "y", "LOC"))
    assertParity(rows, 1)
  }

  test("empty triples: empty state and graph, no NaN node weights") {
    assert(assertParity(Seq.empty, 1, 2).forall(g => g.nodes.isEmpty && g.links.isEmpty))
  }

  test("generated corpus: parity over KgPipeline triples at several min-links") {
    import graft.kg.{KgPipeline, LexiconScorer, Sampler}
    val cfg = KgPipeline.Config(sampler = Sampler.Config(termsPerContext = 50, distInTermsBound = 50,
      renderText = false))
    val rows = KgPipeline.triplesFused(graft.gen.PageGen.pages(60), cfg, LexiconScorer()).collect().toSeq
    assert(assertParity(rows, 1, 3).forall(g => g.links.nonEmpty && g.nodes.forall(n => n.c > 0 && n.c <= 1)))
  }
}
