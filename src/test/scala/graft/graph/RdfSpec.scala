package graft.graph

import org.scalatest.funsuite.AnyFunSuite
import graft.{BothPaths, SparkTestSession}
import org.apache.spark.sql.functions._

/** N-Triples export: IRI encoding of every forbidden character, statement
  * grammar, and the text sink round-trip. */
class RdfSpec extends AnyFunSuite with SparkTestSession with BothPaths {
  import spark.implicits._

  test("iriEncode: forbidden set percent-encoded, '%' first, UTF-8 passthrough") {
    val got = Seq("a b", "x<y>z", "p|q^r`s", "50%", "a\\b", "l1\nl2\tend", "naïve", "clean.ORG")
      .toDF("v").select(Rdf.iriEncode(col("v"))).as[String].collect()
    assert(got.toSeq == Seq(
      "a%20b", "x%3Cy%3Ez", "p%7Cq%5Er%60s", "50%25", "a%5Cb",
      "l1%0Al2%09end", "naïve", "clean.ORG"))
  }

  test("ntriples: one grammatical dot-terminated statement per edge") {
    val edges = Seq(
      ("ORG.spark", "PERSON.customer", "pos", 3.0),
      ("LOC.big table", "GPE.stream", "neg", 1.0)) // space in a node value
      .toDF("source", "target", "sent", "c")
    val rows = Rdf.ntriples(edges).collect()
    assert(rows.length == 2)
    val grammar = """^<[^<>"\s{}|^`\\]+> <[^<>"\s{}|^`\\]+> <[^<>"\s{}|^`\\]+> \.$""".r
    rows.foreach { r =>
      val line = r.getString(3)
      assert(grammar.findFirstIn(line).isDefined, s"bad statement: $line")
      assert(line == s"${r.getString(0)} ${r.getString(1)} ${r.getString(2)} .")
    }
    val spaced = rows.map(_.getString(3)).find(_.contains("LOC.big%20table")).get
    assert(spaced == "<urn:graft/node/LOC.big%20table> <urn:graft/rel/neg> <urn:graft/node/GPE.stream> .")
  }

  test("turtle: one block per subject, ';'-joined predicates, ','-joined objects, lexicographic") {
    val edges = Seq(
      ("A.x", "B.y", "pos", 2.0),
      ("A.x", "C.z", "pos", 1.0),   // second object of the same predicate
      ("A.x", "B.y", "neg", 1.0),   // second predicate (sorts before pos)
      ("D.solo", "E.w", "neu", 1.0))
      .toDF("source", "target", "sent", "c")
    val got = Rdf.turtle(edges).collect()
      .map(r => r.getString(0) -> r.getString(1)).toMap
    assert(got.size == 2)
    assert(got("<urn:graft/node/A.x>") ==
      "<urn:graft/node/A.x> <urn:graft/rel/neg> <urn:graft/node/B.y> ;\n" +
      "  <urn:graft/rel/pos> <urn:graft/node/B.y>, <urn:graft/node/C.z> .")
    assert(got("<urn:graft/node/D.solo>") ==
      "<urn:graft/node/D.solo> <urn:graft/rel/neu> <urn:graft/node/E.w> .")
    // partition count must not change a byte
    val again = Rdf.turtle(edges.repartition(7)).collect()
      .map(r => r.getString(0) -> r.getString(1)).toMap
    assert(again == got)
  }

  test("Sinks.ntriples: text sink round-trips the statement lines") {
    val edges = Seq(("A.x", "B.y", "pos", 2.0), ("A.x", "C.z", "neu", 1.0))
      .toDF("source", "target", "sent", "c")
    val stmts = Rdf.ntriples(edges)
    val dir = java.nio.file.Files.createTempDirectory("nt").toString + "/out"
    graft.io.Sinks.ntriples(stmts, dir)
    val back = spark.read.text(dir).as[String].collect().toSet
    assert(back == stmts.select("line").as[String].collect().toSet)
    assert(back.forall(_.endsWith(" .")))
  }

  test("nquads: four-term statements with the provenance graph IRI") {
    val quads = Seq(("doc 7", "ORG.spark", "GPE.stream", "pos"))
      .toDF("g", "source", "target", "sent")
    val r = Rdf.nquads(quads).collect().head
    assert(r.getString(4) ==
      "<urn:graft/node/ORG.spark> <urn:graft/rel/pos> " +
      "<urn:graft/node/GPE.stream> <urn:graft/graph/doc%207> .")
    assert(r.getString(3) == "<urn:graft/graph/doc%207>")
  }

  test("sameAsCanonicalize: chains collapse transitively onto the min id") {
    val triples = Seq(
      ("e3", "knows", "z"), ("z", "cites", "e2"), ("e1", "knows", "q"),
      ("other", "knows", "z")).toDF("s", "p", "o")
    // e1~e2, e2~e3: (e1,e3) never asserted but must still collapse
    val sameAs = Seq(("e1", "e2"), ("e2", "e3")).toDF("a", "b")
    val got = Rdf.sameAsCanonicalize(triples, sameAs)
      .collect().map(r => (r.getString(0), r.getString(1), r.getString(2))).toSet
    assert(got == Set(
      ("e1", "knows", "z"), ("z", "cites", "e1"),
      ("e1", "knows", "q"), ("other", "knows", "z")))
  }

  test("sameAsCanonicalize deduplicates triples merged by the rewrite") {
    val triples = Seq(("a", "r", "x"), ("b", "r", "x")).toDF("s", "p", "o")
    val sameAs = Seq(("a", "b")).toDF("a", "b")
    val got = Rdf.sameAsCanonicalize(triples, sameAs).collect()
    assert(got.length == 1)
    assert((got.head.getString(0), got.head.getString(2)) == (("a", "x")))
  }

  test("sameAsCanonicalize: entities outside any assertion pass through untouched") {
    val triples = Seq(("u", "r", "v")).toDF("s", "p", "o")
    val sameAs = Seq(("p", "q")).toDF("a", "b")
    val got = Rdf.sameAsCanonicalize(triples, sameAs).collect()
    assert(got.length == 1 && got.head.getString(0) == "u" && got.head.getString(2) == "v")
  }

  bothPaths("sameAsCanonicalize: driver union-find and distributed components agree bit-for-bit") {
    // chains, a star, an isolated pair, reversed/duplicate assertions, and
    // a chain whose min differs between UTF-16 and UTF-8 order: U+1F600
    // (surrogates D83D DE00) sorts first in UTF-16, U+FF21 in UTF-8 (EF BC
    // A1 < F0 9F 98 80), and Spark orders strings by UTF-8 bytes
    val (emoji, fullA) = ("u\uD83D\uDE00", "u\uFF21")
    val sameAs = Seq(("e1", "e2"), ("e2", "e3"), ("e3", "e4"), ("z1", "z2"),
      ("h", "h1"), ("h", "h2"), ("h", "h3"), ("e2", "e1"), ("e1", "e2"), (emoji, fullA))
      .toDF("a", "b")
    val triples = Seq(("e4", "r", "h3"), ("z2", "r", "e1"), ("q", "r", "q2"), (emoji, "r", "q"))
      .toDF("s", "p", "o")
    val got = Rdf.sameAsCanonicalize(triples, sameAs)
      .collect().map(r => (r.getString(0), r.getString(1), r.getString(2))).toSet
    assert(got == Set(("e1", "r", "h"), ("z1", "r", "e1"), ("q", "r", "q2"), (fullA, "r", "q")))
  }
}
