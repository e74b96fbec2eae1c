package graft.exec

import java.nio.charset.StandardCharsets.UTF_8
import org.apache.spark.sql.DataFrame
import org.apache.spark.sql.functions._
import org.scalatest.funsuite.AnyFunSuite
import graft.SparkTestSession
import graft.exec.Bounded._
import graft.graph.{GraphBuilder, GraphOps}
import graft.ops.{Dedup, Similarity}

/** The one bounded-collect probe of the driver fast paths: when it declines
  * and the decision it records, the seam that forces every operator onto its
  * distributed path, the Spark key order it shares with the driver replicas,
  * and null-keyed inputs, on which each fast-path family must return the
  * distributed path's answer. */
class BoundedSpec extends AnyFunSuite with SparkTestSession {
  import spark.implicits._

  private def rows(df: DataFrame) = df.collect().map(_.toSeq).toSet

  test("collect: rows of a small, typed, null-free relation; None otherwise") {
    // the rows, and the one decision the probe recorded: its path and rows collected
    def probe(d: DataFrame, bound: Int, types: ColumnType*) = {
      val (got, log) = recording(Bounded.collect("probe", d, bound, types: _*))
      assert(log.map(_.label) == Seq("probe"), "one decision per probe")
      (got.map(_.map(_.toSeq).toSet), log.head.path, log.head.rows)
    }
    val df = Seq(("a", 1L), ("b", 2L)).toDF("k", "v")
    assert(probe(df, 2, Str, Lng) == ((Some(Set(Seq("a", 1L), Seq("b", 2L))), Driver, 2)))
    assert(probe(df, 1, Str, Lng) == ((None, OverBound, 2)), "above the bound")
    assert(probe(df.filter(lit(false)), 2, Str, Lng) == ((None, Empty, 0)), "no rows")
    assert(probe(df, 2, Str, Str) == ((None, Schema, 0)), "a column type the caller cannot decode")
    assert(probe(df, 2, Str) == ((None, Schema, 0)), "column count")
    assert(probe(Seq(("a", Some(1L)), ("b", None)).toDF("k", "v"), 2, Str, Lng) ==
      ((None, NullKey, 2)), "a null value")
    assert(distributedOnly(probe(df, 2, Str, Lng)) == ((None, Forced, 0)), "forced")
    val typed = Seq(("a", Option("T")), ("b", None)).toDF("k", "type")
    assert(probe(typed, 2, Str, orNull(Str)) ==
      ((Some(Set(Seq("a", "T"), Seq("b", null))), Driver, 2)), "a null where the caller replays it")
    assert(probe(typed.select("type", "k"), 2, orNull(Str), Str) ==
      ((Some(Set(Seq("T", "a"), Seq(null, "b"))), Driver, 2)))
    assert(probe(typed.select("type", "k"), 2, Str, orNull(Str)) == ((None, NullKey, 2)),
      "a null key")
    val vecs = Seq((1, Seq(1L, 2L)), (2, Seq(3L))).toDF("id", "q")
    assert(probe(vecs, 2, Key, arrayOf(Lng)) ==
      ((Some(Set(Seq(1, Seq(1L, 2L)), Seq(2, Seq(3L)))), Driver, 2)))
    assert(Bounded.collect("unrecorded", df, 2, Str, Lng).isDefined)
    assert(recording(())._2.isEmpty, "a probe outside recording is not kept")
  }

  test("recording: a caller that declines the collected rows records its own reason") {
    // pageRank's probe collects the source-joined edges, which drop the null
    // source that prPrep's node set still counts: localEw declines the rows
    val src = Seq[(String, String, Double)](("A", "B", 1), ("B", "A", 1), (null, "C", 1))
      .toDF("source", "target", "c")
    val (_, log) = recording(GraphOps.pageRank(src, 2).collect())
    assert(log == Seq(Decision("pageRank", NullKey, 2)))
    val (_, ok) = recording(GraphOps.pageRank(src.filter(col("source").isNotNull), 2).collect())
    assert(ok == Seq(Decision("pageRank", Driver, 2)))
  }

  test("distributedOnly: collect declines inside, and the seam resets after body throws") {
    val df = Seq(("a", 1L)).toDF("k", "v")
    assert(distributedOnly(Bounded.collect("t", df, 10, Str, Lng)).isEmpty)
    assert(distributedOnly(distributedOnly(1) + Bounded.collect("t", df, 10, Str, Lng).size) == 1)
    intercept[IllegalStateException](distributedOnly(throw new IllegalStateException("boom")))
    assert(Bounded.collect("t", df, 10, Str, Lng).isDefined)
  }

  test("sparkStringOrdering is UTF-8 byte order on 20,000 random boundary-character pairs") {
    val rnd = new scala.util.Random(11)
    val alphabet = Seq("\u0000", "a", "\u007f", "\u0080", "߿", "ࠀ", "퟿",
      "", "￿", "😀", "𐀀", "􏿿")
    def word() = Seq.fill(rnd.nextInt(5))(alphabet(rnd.nextInt(alphabet.size))).mkString
    val mismatches = (1 to 20000).count { _ =>
      val (a, b) = (word(), word())
      val bytes =
        Integer.signum(java.util.Arrays.compareUnsigned(a.getBytes(UTF_8), b.getBytes(UTF_8)))
      Integer.signum(GraphBuilder.sparkStringOrdering.compare(a, b)) != bytes ||
        Integer.signum(Bounded.keyOrdering.compare(a, b)) != bytes
    }
    assert(mismatches == 0)
    assert(Bounded.keyOrdering.lt(-3L, 2L) && Bounded.keyOrdering.lt(2, 10))
    intercept[IllegalArgumentException](Bounded.keyOrdering.compare(1, 1L))
  }

  // one graph per family with a null-source and a null-target edge: the
  // distributed joins drop null keys, a driver replay keyed on them would not
  private def nullKeyed: DataFrame =
    Seq[(String, String, Double)](("A", "B", 2), ("B", "C", 1), ("C", "A", 1), ("C", "D", 3),
      (null, "B", 1), ("D", null, 2)).toDF("source", "target", "c")

  test("null keys: HITS equals its distributed path") {
    val e = nullKeyed
    for (it <- Seq(1, 2))
      assert(rows(GraphOps.hits(e, it)) == rows(distributedOnly(GraphOps.hits(e, it))),
        s"iters=$it")
  }

  // the whole family: PPR, dangling and trustRank share the replay too
  test("null keys: pageRank and pageRankResume equal their distributed paths") {
    val e = nullKeyed
    assert(rows(GraphOps.pageRank(e, 3)) == rows(distributedOnly(GraphOps.pageRank(e, 3))))
    val prev = distributedOnly(GraphOps.pageRank(e, 2))
    assert(rows(GraphOps.pageRankResume(e, prev, 1)) ==
      rows(distributedOnly(GraphOps.pageRankResume(e, prev, 1))))
    assert(rows(GraphOps.personalizedPageRank(e, "A", 3)) ==
      rows(distributedOnly(GraphOps.personalizedPageRank(e, "A", 3))))
    assert(rows(GraphOps.pageRankDangling(e, 20, eps = 1000000L)) ==
      rows(distributedOnly(GraphOps.pageRankDangling(e, 20, eps = 1000000L))))
    val seeds = col("id").isin("A", "D")
    assert(rows(GraphOps.trustRank(e, seeds, 3)) ==
      rows(distributedOnly(GraphOps.trustRank(e, seeds, 3))))
    // a null source alone: the probed (source-joined) relation holds no
    // null, but prPrep's node set still counts the null node
    val src = Seq[(String, String, Double)](("A", "B", 1), ("B", "A", 1), (null, "C", 1))
      .toDF("source", "target", "c")
    assert(rows(GraphOps.pageRank(src, 2)) == rows(distributedOnly(GraphOps.pageRank(src, 2))))
    assert(rows(GraphOps.trustRank(src, col("id") === "A", 2)) ==
      rows(distributedOnly(GraphOps.trustRank(src, col("id") === "A", 2))))
    assert(rows(GraphOps.hits(src, 2)) == rows(distributedOnly(GraphOps.hits(src, 2))))
  }

  test("null keys: pair family (kCore, bfs) equals its distributed path") {
    val e = nullKeyed
    assert(rows(GraphOps.kCore(e, k = 2)) == rows(distributedOnly(GraphOps.kCore(e, k = 2))))
    assert(rows(GraphOps.bfs(e, "A", rounds = 3)) ==
      rows(distributedOnly(GraphOps.bfs(e, "A", rounds = 3))))
  }

  test("null keys: adjacency family (labelPropagation, louvainMoves) equals its distributed path") {
    val e = nullKeyed
    assert(rows(GraphOps.labelPropagation(e, rounds = 3)) ==
      rows(distributedOnly(GraphOps.labelPropagation(e, rounds = 3))))
    assert(rows(GraphOps.louvainMoves(e, rounds = 4)) ==
      rows(distributedOnly(GraphOps.louvainMoves(e, rounds = 4))))
  }

  test("null keys: Dedup.clusters with a null id equals its distributed path") {
    val pairs = Seq[(java.lang.Long, java.lang.Long)]((1L, 2L), (2L, 3L), (null, 4L), (5L, 6L))
      .toDF("a_id", "b_id")
    assert(rows(Dedup.clusters(pairs)) == rows(distributedOnly(Dedup.clusters(pairs))))
  }

  test("null keys: kmeansCentroids with a null vector equals its distributed path") {
    val pts = (1 to 12).map(i => (i.toLong, Seq(i % 3 * 10.0 + i * 0.1, i % 2 * 5.0)))
    val df = (pts.map { case (i, v) => (i, Option(v)) } :+ ((99L, None: Option[Seq[Double]])))
      .toDF("id", "v")
    def cents() = Similarity.kmeansCentroids(df, col("id"), col("v"), k = 3, iters = 2)
      .map(_.toSeq).toSeq
    assert(cents() == distributedOnly(cents()))
  }
}
