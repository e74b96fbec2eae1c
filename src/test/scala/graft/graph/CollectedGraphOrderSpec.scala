package graft.graph

import org.apache.spark.sql.functions.col
import org.scalatest.funsuite.AnyFunSuite

/** The driver sort of [[GraphBuilder.collectedGraph]] must match Spark's
  * `orderBy`, which compares UTF-8 bytes. `String.compareTo` compares UTF-16
  * units instead, and the two disagree between a supplementary character
  * (stored as surrogates 0xD800-0xDFFF) and a high-BMP one (0xE000-0xFFFF). */
class CollectedGraphOrderSpec extends AnyFunSuite with graft.SparkTestSession {
  import spark.implicits._

  private val grin = "😀" // U+1F600, a surrogate pair
  private val fullZ = "ｚ"      // U+FF5A, high BMP

  test("nodes and edges with non-BMP next to high-BMP characters sort as Spark orderBy does") {
    val ids = Seq(grin, fullZ, s"a$grin", s"a$fullZ", "a", "é", "Z", s"$grin$grin", s"${fullZ}x", "")
      .map(v => s"GPE.$v")
    // UTF-16 order puts the surrogate pair first: the case the driver sort must not follow
    assert(Seq(s"GPE.$grin", s"GPE.$fullZ").sorted.head == s"GPE.$grin")
    val rows = for {
      (s, i) <- ids.zipWithIndex
      (t, j) <- ids.zipWithIndex if (i + j) % 3 != 0
      sent <- Seq("pos", "neg", s"x$grin", s"x$fullZ").take(1 + (i * j) % 4)
    } yield (s, t, sent, (1 + (i + j) % 5).toDouble)
    val edges = rows.toDF("source", "target", "sent", "c").repartition(4)

    val g = GraphBuilder.collectedGraph("g", edges.collect().toSeq)
    val sparkLinks = edges.orderBy("source", "target", "sent").collect()
      .map(r => (r.getString(0), r.getString(1), r.getString(2), r.getDouble(3))).toSeq
    assert(g.links.map(l => (l.source, l.target, l.sent, l.c)) == sparkLinks)
    val sparkNodes = GraphBuilder.nodes(edges).orderBy("id").collect()
      .map(r => (r.getString(0), r.getDouble(1))).toSeq
    assert(g.nodes.map(n => (n.id, n.c)) == sparkNodes)
    assert(g.nodes.indexWhere(_.id == s"GPE.$fullZ") < g.nodes.indexWhere(_.id == s"GPE.$grin"))
  }

  test("sparkStringOrdering agrees with Spark's sort on mixed-plane strings") {
    val rnd = new scala.util.Random(7)
    val alphabet = Seq("a", "z", "é", "߿", "ࠀ", "퟿", "", fullZ, "￿",
      grin, "𐀀", "􏿿")
    val words = Seq.fill(400)(Seq.fill(rnd.nextInt(4))(alphabet(rnd.nextInt(alphabet.size))).mkString)
    val sparkSorted = words.toDF("w").orderBy(col("w")).collect().map(_.getString(0)).toSeq
    assert(words.sorted(GraphBuilder.sparkStringOrdering) == sparkSorted)
    assert(words.sorted != sparkSorted) // the default UTF-16 order differs on this input
  }
}
