package graft.ops

import org.scalatest.funsuite.AnyFunSuite
import graft.SparkTestSession
import graft.exec.Bounded.distributedOnly
import org.apache.spark.sql.DataFrame
import org.apache.spark.sql.functions._

/** Product quantization on planted separable clusters: per-subspace
  * codebooks are deterministic and partition-invariant, encoding collapses
  * each cluster to one code word, and ADC top-k retrieves cluster-mates. */
class PqSpec extends AnyFunSuite with SparkTestSession {
  import spark.implicits._

  // 3 well-separated blobs of 10 points in 64 dims; both halves separate
  private def blobs: DataFrame =
    (for (c <- 0 until 3; j <- 0 until 10) yield {
      val v = (0 until 64).map(d =>
        (if (d < 32) 10.0 * c else 5.0 * (c + 1)) + j * 0.001 + d * 0.0001)
      ((c * 10 + j).toLong, v)
    }).toDF("vec_id", "embedding")

  private val dim = 64

  test("codebooks deterministic and partition-invariant") {
    val a = Similarity.pqCodebooks(blobs, col("vec_id"), col("embedding"),
      dim, m = 2, ksub = 3, iters = 2)
    val b = Similarity.pqCodebooks(blobs.repartition(7), col("vec_id"), col("embedding"),
      dim, m = 2, ksub = 3, iters = 2)
    assert(a.map(_.map(_.toSeq).toSeq).toSeq == b.map(_.map(_.toSeq).toSeq).toSeq)
    assert(a.length == 2 && a.forall(_.length == 3) && a.forall(_.forall(_.length == 32)))
  }

  test("encode: each planted blob collapses to one code word per subspace") {
    val books = Similarity.pqCodebooks(blobs, col("vec_id"), col("embedding"),
      dim, m = 2, ksub = 3, iters = 2)
    val codes = Similarity.pqEncode(blobs, col("vec_id"), col("embedding"), dim, books)
      .collect().map(r => r.getLong(0) -> r.getSeq[Long](1).toList).toMap
    assert(codes.size == 30)
    (0 until 3).foreach { c =>
      val members = (0 until 10).map(j => codes((c * 10 + j).toLong)).toSet
      assert(members.size == 1, s"blob $c split across codes: $members")
    }
    assert((0 until 3).map(c => codes((c * 10L))).toSet.size == 3, "blobs share a code word")
  }

  test("IVF-PQ: results honor the cell constraint, retrieve cluster-mates, " +
      "and are partition-invariant") {
    val coarse = Similarity.kmeansCentroids(blobs, col("vec_id"), col("embedding"),
      k = 3, iters = 2)
    val got = Similarity.ivfPqTopK(blobs, blobs.filter(col("vec_id") < 15),
      col("vec_id"), col("embedding"), dim, coarse, m = 2, ksub = 3, iters = 2, k = 9)
      .collect().map(r => (r.getLong(0), r.getLong(1), r.getLong(2), r.getLong(3))).sorted.toSeq
    assert(got.nonEmpty)
    // with 3 well-separated blobs and k=9, every query's neighbor list is
    // exactly its 9 blob-mates (the coarse quantizer isolates blobs to cells)
    for (q <- got.map(_._1).distinct) {
      val mates = got.filter(_._1 == q).map(_._3).toSet
      val blob = q / 10
      assert(mates == (blob * 10 until (blob + 1) * 10).map(_.toLong).toSet - q,
        s"query $q neighbors $mates not its blob-mates")
    }
    val again = Similarity.ivfPqTopK(blobs.repartition(7), blobs.filter(col("vec_id") < 15),
      col("vec_id"), col("embedding"), dim, coarse, m = 2, ksub = 3, iters = 2, k = 9)
      .collect().map(r => (r.getLong(0), r.getLong(1), r.getLong(2), r.getLong(3))).sorted.toSeq
    assert(got == again)
  }

  test("ADC top-k returns exactly the query's cluster-mates") {
    val books = Similarity.pqCodebooks(blobs, col("vec_id"), col("embedding"),
      dim, m = 2, ksub = 3, iters = 2)
    val codes = Similarity.pqEncode(blobs, col("vec_id"), col("embedding"), dim, books)
    val got = Similarity.pqTopK(codes, blobs.filter(col("vec_id") === 5L),
      col("vec_id"), col("embedding"), dim, books, k = 9)
      .collect().map(r => (r.getLong(0), r.getLong(1), r.getLong(2), r.getLong(3)))
    assert(got.length == 9)
    assert(got.forall(_._1 == 5L))
    assert(got.map(_._3).toSet == (0L until 10L).toSet - 5L) // blob-0 mates, self excluded
    assert(got.map(_._4).forall(_ >= 0L))
  }

  test("small-corpus driver fast path == distributed training, bit for bit") {
    // distributedOnly forces the distributed job loop; the default takes
    // the one-collect driver path on this 30-point corpus. Both kmeans and
    // PQ codebooks must agree exactly (same maximin start/tie rules, exact
    // Long sums, same floor(sum/cnt) update, empty clusters kept).
    val viaJobs = distributedOnly(Similarity.kmeansCentroids(blobs, col("vec_id"),
      col("embedding"), k = 3, iters = 2)).map(_.toSeq).toSeq
    val viaDriver = Similarity.kmeansCentroids(blobs, col("vec_id"), col("embedding"),
      k = 3, iters = 2).map(_.toSeq).toSeq
    assert(viaDriver == viaJobs, "kmeans fast path diverges from the job loop")
    val pqJobs = distributedOnly(Similarity.pqCodebooks(blobs, col("vec_id"),
      col("embedding"), dim, m = 2, ksub = 3, iters = 2))
      .map(_.map(_.toSeq).toSeq).toSeq
    val pqDriver = Similarity.pqCodebooks(blobs, col("vec_id"), col("embedding"),
      dim, m = 2, ksub = 3, iters = 2).map(_.map(_.toSeq).toSeq).toSeq
    assert(pqDriver == pqJobs, "PQ fast path diverges from the job loop")
    // partition-invariance of the fast path (limit-collect order must not
    // leak: points are re-sorted by id driver-side)
    val viaDriver2 = Similarity.kmeansCentroids(blobs.repartition(7), col("vec_id"),
      col("embedding"), k = 3, iters = 2).map(_.toSeq).toSeq
    assert(viaDriver2 == viaJobs, "fast path is partition-sensitive")
  }

  test("fused multi-subspace training == per-slice kmeansCentroids, " +
      "exact and sampled seeding") {
    val w = dim / 2
    def slices(seedFrac: Option[Double]) = (0 until 2).map { s =>
      Similarity.kmeansCentroids(blobs, col("vec_id"),
        slice(col("embedding"), s * w + 1, w), k = 3, iters = 2,
        seedSampleFraction = seedFrac)
        .map(_.toSeq).toSeq
    }
    for (frac <- Seq(None, Some(0.6))) {
      val fused = Similarity.pqCodebooks(blobs, col("vec_id"), col("embedding"),
        dim, m = 2, ksub = 3, iters = 2, seedSampleFraction = frac)
        .map(_.map(_.toSeq).toSeq).toSeq
      assert(fused == slices(frac), s"fused codebooks diverge (seed=$frac)")
    }
  }
}
