package graft.ops

import org.apache.spark.sql.{Column, DataFrame}
import org.apache.spark.sql.functions._
import org.apache.spark.sql.expressions.Window
import graft.exec.Bounded
import graft.exec.Bounded.{Key, Lng, arrayOf}

/** Similarity search over an embedding column (array<float>).
  *
  * The dot/cosine math is a strictly sequential fold (functions.aggregate over
  * zip_with) so results are bit-reproducible across engines and partitionings —
  * required both for the DuckDB correctness oracle and for resume-stable output
  * (north_rule). All double arithmetic, element order fixed.
  *
  * Scale notes: brute-force is O(Q*N) — the baseline; the bucketed variant
  * (coarse quantizer = argmax over the first `probeDims` coordinates, an
  * IVF-style partition) turns the cross join into a co-partitioned join on
  * bucket id, which is the 100 TB path (bucket count chosen so each bucket's
  * candidate set fits one task).
  */
object Similarity {

  /** Sequential-fold dot product of two double arrays (HOF formulation —
    * kept as the reference semantics; the native expression below is
    * bit-identical and codegen'd). */
  def dot(a: Column, b: Column): Column =
    aggregate(zip_with(a, b, (x, y) => x * y), lit(0.0), (acc, v) => acc + v)

  def norm(a: Column): Column =
    sqrt(aggregate(transform(a, x => x * x), lit(0.0), (acc, v) => acc + v))

  /** HOF cosine — interpreted; used for parity testing. */
  def cosineHof(a: Column, b: Column): Column = dot(a, b) / norm(a) / norm(b)

  /** Cosine via the native codegen expression (graft.functions.CosineSimilarity):
    * same left-to-right fold, bit-identical results, whole-stage codegen. */
  def cosine(a: Column, b: Column): Column =
    graft.functions.VectorExpressions.cosine_similarity(a, b)

  private def asDouble(c: Column): Column = c.cast("array<double>")

  /** Brute-force top-k cosine neighbors for the `queries` subset against all of
    * `corpus`. Output: (query_id, rank, neighbor_id, score). The queries side is
    * broadcast (it is small by construction); rank ties broken by neighbor id. */
  def bruteForceTopK(corpus: DataFrame, queries: DataFrame, id: Column, vec: Column, k: Int): DataFrame = {
    val c = corpus.select(id.as("neighbor_id"), asDouble(vec).as("c_vec"))
    val q = queries.select(id.as("query_id"), asDouble(vec).as("q_vec"))
    val scored = c.crossJoin(broadcast(q))
      .filter(col("query_id") =!= col("neighbor_id"))
      .select(col("query_id"), col("neighbor_id"),
        cosine(col("q_vec"), col("c_vec")).as("score"))
    val w = Window.partitionBy("query_id").orderBy(col("score").desc, col("neighbor_id"))
    scored.withColumn("rank", row_number().over(w)).filter(col("rank") <= k)
      .select("query_id", "rank", "neighbor_id", "score")
  }

  /** All pairs (a < b) with cosine above `threshold` — embedding near-dup
    * detection. Brute-force variant; compose with [[bucket]] for scale. */
  def cosinePairs(df: DataFrame, id: Column, vec: Column, threshold: Double): DataFrame = {
    val a = df.select(id.as("a_id"), asDouble(vec).as("a_vec"))
    val b = df.select(id.as("b_id"), asDouble(vec).as("b_vec"))
    a.crossJoin(b)
      .filter(col("a_id") < col("b_id"))
      .select(col("a_id"), col("b_id"), cosine(col("a_vec"), col("b_vec")).as("score"))
      .filter(col("score") >= threshold)
  }

  /** Deterministic ±1 random-hyperplane matrix: k rows of `dim` signs drawn
    * from an explicit 64-bit LCG (wrapping arithmetic is JVM-stable across
    * platforms; the same constants are embedded into the DuckDB oracle SQL, so
    * both engines use the IDENTICAL planes). */
  def hyperplanes(k: Int, dim: Int, seed: Long = 0x5EED5EEDL): Array[Array[Double]] = {
    var x = seed
    Array.fill(k, dim) {
      x = x * 6364136223846793005L + 1442695040888963407L
      if (x < 0) -1.0 else 1.0
    }
  }

  /** Random-hyperplane LSH near-duplicate pairs — the 100 TB replacement for
    * [[cosinePairs]]'s all-pairs cross join:
    *
    *   sign-bit signature (bit k = sign⟨v, plane_k⟩, map-side) -> band bucket
    *   self-join (shuffles on the bucket key only, graft.ops.Dedup
    *   .minhashCandidates) -> exact-cosine verify on candidates.
    *
    * P(candidate) per band = (1 - θ/π)^rowsPerBand — rowsPerBand controls
    * bucket selectivity (spurious candidates), bands controls recall. Defaults
    * (4 bands × 8 rows = 32 bits) give ~0.99 recall at cosine ≥ 0.99 and pass
    * ~1.6% of uncorrelated pairs to the verify stage. The sign dot product is
    * a strictly sequential fold -> bit-identical across engines, so bucket
    * contents (not just verified output) match the DuckDB oracle exactly. */
  def lshCosinePairs(df: DataFrame, id: Column, vec: Column, threshold: Double, dim: Int,
      bands: Int = 4, rowsPerBand: Int = 8, seed: Long = 0x5EED5EEDL,
      maxBucketSize: Int = Int.MaxValue): DataFrame = {
    val planes = hyperplanes(bands * rowsPerBand, dim, seed)
    // per-band sign signatures via the native codegen kernel (one primitive
    // K×D loop per row inside whole-stage codegen; bit-identical to the HOF
    // aggregate(zip_with) formulation — asserted by VectorExpressionsSpec)
    val v = df.select(id.as("id"),
      graft.functions.VectorExpressions.hyperplane_sig(asDouble(vec), planes, rowsPerBand).as("bsigs"))
    val sigs = v.select(col("id"), posexplode(col("bsigs")))
      .select(col("id"), col("pos").as("band"), col("col").as("sig"))
    // maxBucketSize guards degenerate sign-signature buckets (e.g. mass
    // zero/constant vectors) against the |bucket|^2 candidate blowup
    val cand = graft.ops.Dedup.minhashCandidates(sigs, maxBucketSize)
    val a = df.select(id.as("a_id"), asDouble(vec).as("a_vec"))
    val b = df.select(id.as("b_id"), asDouble(vec).as("b_vec"))
    cand.join(a, "a_id").join(b, "b_id")
      .select(col("a_id"), col("b_id"), cosine(col("a_vec"), col("b_vec")).as("score"))
      .filter(col("score") >= threshold)
  }

  /** CROSS-SET LSH cosine join — semantic eval-set decontamination at scale:
    * which corpus documents are near-duplicates (embedding cosine ≥
    * `threshold`) of any benchmark/eval item? Same planes, band layout and
    * strictly-sequential fold as [[lshCosinePairs]] (bucket contents are
    * oracle-exact); the join is corpus-sigs ⨝ eval-sigs on (band, sig) only —
    * never corpus × eval. `maxBucketSize` caps degenerate CORPUS buckets
    * (measured on the corpus side, the unbounded one; the eval set is
    * benchmark-sized) before the candidate join, mirroring
    * [[graft.ops.Dedup.minhashCandidates]]'s guardrail.
    *
    * Scale shape: signatures are map-side; the bucket join shuffles on the
    * (band, sig) key; the exact-cosine verify touches candidates only. At
    * 10^12 corpus docs × 10^5 eval items the eval side broadcasts. */
  def lshCosineJoin(corpus: DataFrame, evals: DataFrame, id: Column, vec: Column,
      threshold: Double, dim: Int, bands: Int = 4, rowsPerBand: Int = 8,
      seed: Long = 0x5EED5EEDL, maxBucketSize: Int = Int.MaxValue): DataFrame = {
    val planes = hyperplanes(bands * rowsPerBand, dim, seed)
    def sigs(df: DataFrame, as: String): DataFrame = df.select(id.as(as),
        graft.functions.VectorExpressions.hyperplane_sig(asDouble(vec), planes, rowsPerBand).as("bsigs"))
      .select(col(as), posexplode(col("bsigs")))
      .select(col(as), col("pos").as("band"), col("col").as("sig"))
    val cs0 = sigs(corpus, "corpus_id")
    val cs = if (maxBucketSize == Int.MaxValue) cs0 else {
      val hot = cs0.groupBy(col("band"), col("sig"))
        .agg(count(lit(1)).as("n")).filter(col("n") > maxBucketSize)
        .select(col("band"), col("sig"))
      cs0.join(hot, Seq("band", "sig"), "left_anti")
    }
    val cand = cs.join(sigs(evals, "eval_id"), Seq("band", "sig"))
      .select(col("corpus_id"), col("eval_id")).distinct()
    val c = corpus.select(id.as("corpus_id"), asDouble(vec).as("c_vec"))
    val e = evals.select(id.as("eval_id"), asDouble(vec).as("e_vec"))
    cand.join(c, "corpus_id").join(e, "eval_id")
      .select(col("corpus_id"), col("eval_id"),
        cosine(col("c_vec"), col("e_vec")).as("score"))
      .filter(col("score") >= threshold)
  }

  /** IVF-style coarse bucket: index (1-based) of the maximum coordinate among
    * the first `probeDims` dimensions. Deterministic, engine-portable. */
  def bucket(vec: Column, probeDims: Int): Column = {
    val head = slice(asDouble(vec), 1, probeDims)
    array_position(head, array_max(head))
  }

  /** Multi-probe bucket list for a query: the 1-based positions of the
    * top-`nProbe` values among the first `probeDims` coordinates (the query
    * visits its nProbe most-promising IVF cells; corpus vectors still live in
    * exactly one cell, so probing never duplicates candidates). Ordering ties
    * break on the smaller position — same rule as [[bucket]]. */
  def probeBuckets(vec: Column, probeDims: Int, nProbe: Int): Column = {
    val head = slice(asDouble(vec), 1, probeDims)
    val ranked = sort_array(
      zip_with(head, sequence(lit(1), lit(probeDims)),
        (v, p) => struct(v.as("v"), (-p).as("np"))),
      asc = false) // v desc, then -p desc == position asc
    transform(slice(ranked, 1, nProbe), s => -s.getField("np"))
  }

  /** IVF with multi-probe: each query searches its `nProbe` best coarse cells
    * instead of one — the standard recall knob. Still a co-partitioned join on
    * the cell id (queries exploded once per probe), never a cross join. */
  def bucketedTopKMultiProbe(corpus: DataFrame, queries: DataFrame, id: Column, vec: Column,
      k: Int, probeDims: Int, nProbe: Int): DataFrame = {
    val c = corpus.select(id.as("neighbor_id"), asDouble(vec).as("c_vec"),
      bucket(vec, probeDims).as("bucket"))
    val q = queries.select(id.as("query_id"), asDouble(vec).as("q_vec"),
      explode(probeBuckets(vec, probeDims, nProbe)).as("bucket"))
    val scored = c.join(broadcast(q), "bucket")
      .filter(col("query_id") =!= col("neighbor_id"))
      .select(col("query_id"), col("neighbor_id"),
        cosine(col("q_vec"), col("c_vec")).as("score"))
    val w = Window.partitionBy("query_id").orderBy(col("score").desc, col("neighbor_id"))
    scored.withColumn("rank", row_number().over(w)).filter(col("rank") <= k)
      .select("query_id", "rank", "neighbor_id")
  }

  // ------------------------------------------------ learned IVF (k-means)

  /** Distance-to-centroid argmin over driver-held centroids (squared L2 in
    * exact integer arithmetic, ties to the smaller centroid id) via the
    * native codegen kernel: the centroid matrix rides as a reference object,
    * so the expression is ONE plan node — the HOF formulation (K
    * aggregate(zip_with) trees) was interpreted AND cost ~1 s of Catalyst
    * analysis on every training-loop job (13 s -> ~3 s training at sf0.1).
    * Integer sums are order-insensitive: bit-identical to the HOF form
    * (VectorExpressionsSpec parity) and the DuckDB oracle. */
  private def nearestCentroid(q: Column, cents: Array[Array[Long]]): Column =
    graft.functions.VectorExpressions.centroid_argmin(q, cents)

  /** The HOF formulation of [[nearestCentroid]] — parity oracle for the
    * native kernel; not the hot path. */
  private[graft] def nearestCentroidHof(q: Column, cents: Array[Array[Long]]): Column =
    element_at(
      array_min(array(cents.zipWithIndex.map { case (ct, ci) =>
        // [distance, centroid id]: lexicographic array ordering == ORDER BY
        // d, cid — the argmin with ties to the smaller centroid id
        array(
          aggregate(zip_with(q, typedLit(ct.toSeq), (x, c) => (x - c) * (x - c)),
            lit(0L), (a, v) => a + v),
          lit(ci.toLong))
      }: _*)), 2)

  /** Integer quantization q_d = floor(v_d * scale) — every later step (sums,
    * squared distances, floor-divided centroid means) is exact BIGINT /
    * exactly-representable-double arithmetic, so the learned centroids and
    * assignments are bit-identical across engines and partitionings (the
    * DuckDB oracle runs the same unrolled iterations). */
  private def quantCol(vec: Column, scale: Int): Column =
    transform(asDouble(vec), x => floor(x * scale).cast("long"))

  private def quantized(df: DataFrame, id: Column, vec: Column, scale: Int): DataFrame =
    df.select(id.as("id"), quantCol(vec, scale).as("q"))

  /** Min squared distance to any of the given centroids (seeding helper) —
    * native kernel, same reasoning as [[nearestCentroid]]. */
  private def minDistCol(q: Column, cents: Seq[Array[Long]]): Column =
    graft.functions.VectorExpressions.centroid_min_dist(q, cents.toArray)

  /** Exact farthest-point (maximin) seeding over the full corpus: start from
    * the smallest id, then k-1 TakeOrdered passes, each taking the point
    * farthest from the chosen set (ties to the smaller id). Deterministic
    * and oracle-expressible, but k-1 driver-synchronous full scans — the
    * right shape only while k is small (the oracle's k=8). */
  private def maximinExact(q: DataFrame, k: Int): Array[Array[Long]] = {
    // ONE TakeOrdered both seeds the start point and guards N >= k (maximin
    // would silently seed duplicate centroids on a smaller corpus)
    val head = q.orderBy(col("id")).limit(k).collect()
    require(head.length == k, s"corpus has fewer than k=$k vectors")
    val init = scala.collection.mutable.ArrayBuffer(
      head(0).getSeq[Long](1).toArray)
    while (init.length < k) {
      val next = q.select(col("q"), minDistCol(col("q"), init.toSeq).as("d"), col("id"))
        .orderBy(col("d").desc, col("id")).limit(1).collect()
      init += next(0).getSeq[Long](0).toArray
    }
    init.toArray
  }

  /** Scale-shaped seeding (round-3 verdict #2): ONE scan collects a
    * deterministic hash-selected sample ([[Sampling.hashBucket]]:
    * partition-invariant, rng-free, the same per-id decision on every
    * re-run) and maximin runs driver-side over the sample with the SAME
    * start/tie rules as [[maximinExact]] — so seeding costs one scan
    * regardless of k, where the exact path pays k-1 scans (a production IVF
    * trains k in the thousands). Sampled seeds generally differ from exact
    * seeds (a fraction < 1 can exclude the true farthest point) but are
    * bit-reproducible: same input => same sample => same seeds => same
    * trained centroids, independent of partitioning. Driver cost is
    * O(|sample| * k * dim); the sample must still hold >= k points. */
  private def maximinSampled(q: DataFrame, k: Int, fraction: Double): Array[Array[Long]] = {
    require(fraction > 0 && fraction <= 1, s"seedSampleFraction out of (0,1]: $fraction")
    val rows = Sampling.sampleByHash(q, col("id"), fraction)
      .select(col("id"), col("q")).collect()
    require(rows.length >= k,
      s"seed sample has ${rows.length} < k=$k points; raise seedSampleFraction")
    // sort driver-side by id with SQL ordering semantics (no global sort
    // job; [[Bounded.keyOrdering]]), then maximin with the exact path's
    // start/tie rules ([[maximinDriver]]: pts is id-sorted, so the first
    // index attaining the max distance is the smaller id).
    val pts: Array[Array[Long]] =
      rows.map(r => (r.get(0), r.getSeq[Long](1).toArray))
        .sortBy(_._1)(Bounded.keyOrdering).map(_._2)
    maximinDriver(pts, k).toArray
  }

  /** Corpus row bound of the [[kmeansCentroids]]/[[pqCodebooks]] driver
    * training path. */
  private val localBound = 16384

  /** Lloyd's k-means coarse quantizer for IVF — the learned replacement for
    * the [[bucket]] heuristic. Deterministic farthest-point (maximin)
    * seeding: start from the smallest id, then repeatedly take the point
    * farthest from the chosen set (ties to the smaller id) — naive
    * smallest-k-ids seeding collapses when the input is ordered by cluster
    * (all seeds land in one blob and Lloyd cannot escape; the
    * planted-cluster spec caught exactly that), while maximin guarantees
    * spread, stays deterministic/SQL-expressible, and costs k-1 TakeOrdered
    * passes — pass `seedSampleFraction` to switch to the one-scan
    * seed-on-sample variant ([[maximinSampled]]) when k is large. Then
    * `iters` rounds of
    * assign + update; each round is ONE scan of the (lineage-truncated)
    * quantized input: map-side argmin against centroid literals (no join),
    * then a posexplode partial-sum aggregation whose result is K×dim rows —
    * collected to the driver (tiny by construction) and re-embedded the next
    * round. The classic Spark k-means shape: per iteration one scan + one
    * K×dim-sized shuffle, nothing else. Centroid update is the element-wise
    * floor(sum/count) over quantized coordinates (exact; empty clusters keep
    * their previous centroid). Returns the K×dim centroid matrix. */
  def kmeansCentroids(df: DataFrame, id: Column, vec: Column, k: Int, iters: Int,
      scale: Int = 1000, seedSampleFraction: Option[Double] = None): Array[Array[Long]] = {
    require(k >= 1, s"k=$k must be >= 1")
    // SMALL-CORPUS FAST PATH: training is a driver-synchronous loop of tiny
    // jobs whose wall cost is almost entirely per-action overhead when the
    // corpus is small (2k vectors = ~10 Spark actions of microseconds of
    // real work each). ONE bounded limit-collect replaces the k-1 maximin
    // TakeOrdereds and the per-iteration assignment scans; the driver math
    // replays the distributed path's exact-integer arithmetic (same
    // quantization expression evaluated IN Spark, same maximin start/tie
    // rules, Long sums — order-independent — and the same
    // floor(sum.toDouble/cnt) update), so the returned matrix is
    // bit-identical (PqSpec pins the two paths equal). Above the bound the
    // probe is abandoned and the scale-correct job loop runs — the driver
    // never holds more than localBound+1 quantized points (~8 MB for
    // dim=64).
    val local = if (seedSampleFraction.nonEmpty) None else Bounded.collect("kmeansCentroids",
      quantized(df, id, vec, scale), localBound, Key, arrayOf(Lng))
    local.map { head =>
      require(head.length >= k, s"corpus has fewer than k=$k vectors")
      val pts = head.map(r => (r.get(0), r.getSeq[Long](1).toArray))
        .sortBy(_._1)(Bounded.keyOrdering).map(_._2)
      kmeansDriver(pts, k, iters)
    }.getOrElse {
      // localCheckpoint, not persist: iterative consumers (memory note — AQE
      // re-stringifies nested plans per action otherwise)
      val q = quantized(df, id, vec, scale).localCheckpoint()
      var cents: Array[Array[Long]] = seedSampleFraction match {
        case None    => maximinExact(q, k)
        case Some(f) => maximinSampled(q, k, f)
      }
      val dim = cents.head.length
      for (_ <- 1 to iters) {
        val sums = q.select(nearestCentroid(col("q"), cents).as("cluster"),
            posexplode(col("q")))
          .groupBy(col("cluster"), col("pos"))
          .agg(sum(col("col")).as("s"), count(lit(1)).as("cnt"))
          .collect()
        val next = cents.map(_.clone())
        sums.foreach { r =>
          val c = r.getLong(0).toInt
          next(c)(r.getInt(1)) = math.floor(r.getLong(2).toDouble / r.getLong(3)).toLong
        }
        cents = next
      }
      cents
    }
  }

  /** Driver-side Lloyd over an id-ordered quantized point set — the
    * [[kmeansCentroids]] small-corpus fast path's math. Replays the
    * distributed loop exactly: [[maximinDriver]] seeding (same start/tie
    * rules as [[maximinExact]]), nearest-centroid assignment with ties to
    * the smaller centroid id (strict < keeps the earlier index — the
    * centroid_argmin kernel's rule), exact Long coordinate sums, and the
    * floor(sum.toDouble/cnt) update with empty clusters keeping their
    * previous centroid. */
  private def kmeansDriver(pts: Array[Array[Long]], k: Int, iters: Int): Array[Array[Long]] = {
    var cents = maximinDriver(pts, k).toArray
    val dim = pts(0).length
    for (_ <- 1 to iters) {
      val sums = Array.ofDim[Long](k, dim)
      val cnts = new Array[Long](k)
      pts.foreach { p =>
        val c = argminCentroidDriver(p, cents)
        cnts(c) += 1
        var i = 0
        while (i < dim) { sums(c)(i) += p(i); i += 1 }
      }
      val next = cents.map(_.clone())
      var c = 0
      while (c < k) {
        if (cnts(c) > 0) {
          var i = 0
          while (i < dim) {
            next(c)(i) = math.floor(sums(c)(i).toDouble / cnts(c)).toLong; i += 1
          }
        }
        c += 1
      }
      cents = next
    }
    cents
  }

  /** Driver-side nearest-centroid argmin: exact integer squared L2, ties to
    * the smaller centroid index (the centroid_argmin kernel's rule). */
  private def argminCentroidDriver(p: Array[Long], cents: Array[Array[Long]]): Int = {
    var best = 0
    var bestD = Long.MaxValue
    var c = 0
    while (c < cents.length) {
      var s = 0L
      var i = 0
      while (i < p.length) { val d = p(i) - cents(c)(i); s += d * d; i += 1 }
      if (s < bestD) { bestD = s; best = c }
      c += 1
    }
    best
  }

  /** Cell assignment under a trained centroid matrix: map-side only. */
  def kmeansAssign(df: DataFrame, id: Column, vec: Column,
      cents: Array[Array[Long]], scale: Int = 1000): DataFrame =
    quantized(df, id, vec, scale)
      .select(col("id"), nearestCentroid(col("q"), cents).as("cluster"))

  /** IVF search over learned cells: exact cosine top-k within the query's
    * k-means cell. Same co-partitioned-join shape as [[bucketedTopK]], with
    * the trained quantizer instead of the coordinate heuristic. */
  def kmeansTopK(corpus: DataFrame, queries: DataFrame, id: Column, vec: Column,
      k: Int, cents: Array[Array[Long]], scale: Int = 1000): DataFrame = {
    val c = corpus.select(id.as("neighbor_id"), asDouble(vec).as("c_vec"),
      nearestCentroid(quantCol(vec, scale), cents).as("bucket"))
    val q = queries.select(id.as("query_id"), asDouble(vec).as("q_vec"),
      nearestCentroid(quantCol(vec, scale), cents).as("bucket"))
    val scored = c.join(broadcast(q), "bucket")
      .filter(col("query_id") =!= col("neighbor_id"))
      .select(col("query_id"), col("neighbor_id"),
        cosine(col("q_vec"), col("c_vec")).as("score"))
    val w = Window.partitionBy("query_id").orderBy(col("score").desc, col("neighbor_id"))
    scored.withColumn("rank", row_number().over(w)).filter(col("rank") <= k)
      .select("query_id", "rank", "neighbor_id")
  }

  /** Learned-IVF multi-probe (round-3 verdict #6): each query searches its
    * `nProbe` nearest TRAINED cells instead of one — [[probeBuckets]]'s
    * recall knob ported from the coordinate heuristic to centroid space.
    * Probe selection ranks exact integer squared-L2 distance to each of the
    * K driver-held centroids (ties to the smaller cell id — the same rule as
    * [[nearestCentroid]]): the centroid matrix rides as a LITERAL that each
    * query row posexplodes over, so picking probe cells is pure map-side
    * work with no join node; corpus vectors still live in exactly ONE cell,
    * so probing never duplicates a (query, neighbor) pair, and the search
    * stays a broadcast cell join — never a corpus cross join. */
  def kmeansTopKMultiProbe(corpus: DataFrame, queries: DataFrame, id: Column,
      vec: Column, k: Int, cents: Array[Array[Long]], nProbe: Int,
      scale: Int = 1000): DataFrame = {
    require(nProbe >= 1 && nProbe <= cents.length,
      s"nProbe=$nProbe out of [1, ${cents.length}]")
    val c = corpus.select(id.as("neighbor_id"), asDouble(vec).as("c_vec"),
      nearestCentroid(quantCol(vec, scale), cents).as("bucket"))
    val q0 = queries.select(id.as("query_id"), asDouble(vec).as("q_vec"),
      quantCol(vec, scale).as("q_q"))
    val qd = q0.select(col("query_id"), col("q_vec"), col("q_q"),
        posexplode(typedlit(cents.map(_.toSeq).toSeq)))
      .select(col("query_id"), col("q_vec"), col("pos").cast("long").as("bucket"),
        aggregate(zip_with(col("q_q"), col("col"), (a, b) => (a - b) * (a - b)),
          lit(0L), (acc, x) => acc + x).as("d2"))
    val wp = Window.partitionBy("query_id").orderBy(col("d2"), col("bucket"))
    val probes = qd.withColumn("pr", row_number().over(wp))
      .filter(col("pr") <= nProbe)
      .select(col("query_id"), col("q_vec"), col("bucket"))
    val scored = c.join(broadcast(probes), "bucket")
      .filter(col("query_id") =!= col("neighbor_id"))
      .select(col("query_id"), col("neighbor_id"),
        cosine(col("q_vec"), col("c_vec")).as("score"))
    val w = Window.partitionBy("query_id").orderBy(col("score").desc, col("neighbor_id"))
    scored.withColumn("rank", row_number().over(w)).filter(col("rank") <= k)
      .select("query_id", "rank", "neighbor_id")
  }

  // --- scalar quantization (SQ8): the vector-compression scale path -------

  /** Per-dimension (min, max) over the corpus — the SQ8 codebook. One
    * posexplode + aggregation with map-side partial min/max combines; the
    * result is `dim` rows, collected to the driver like the k-means centroid
    * matrix (bounded, not data-sized). */
  def sq8Stats(df: DataFrame, vec: Column, dim: Int): (Array[Double], Array[Double]) = {
    val rows = df.select(posexplode(asDouble(vec)).as(Seq("d", "v")))
      .groupBy(col("d")).agg(min(col("v")).as("mn"), max(col("v")).as("mx"))
      .collect()
    require(rows.length == dim,
      s"sq8Stats: expected $dim dimensions, saw ${rows.length} (ragged vectors?)")
    val mn = new Array[Double](dim)
    val mx = new Array[Double](dim)
    rows.foreach { r =>
      val d = r.getInt(0); mn(d) = r.getDouble(1); mx(d) = r.getDouble(2)
    }
    (mn, mx)
  }

  /** Int8 scalar quantization: q_d = floor((v_d - min_d) * 255 / (max_d -
    * min_d)) in [0, 255] (constant dimensions quantize to 0). Map-side only —
    * the codebook rides as two literal arrays — and integer-exact
    * cross-engine: v is widened float->double (exact), and the affine
    * expression is IEEE double arithmetic with one rounding per op, so both
    * engines floor the identical value. The point at 100 TB: a 64-dim float
    * vector column shrinks 4x (byte vs float), and every downstream distance
    * is integer arithmetic — no FP units, no ulp drift, smaller shuffles. */
  def sq8Quantize(df: DataFrame, id: Column, vec: Column,
      mins: Array[Double], maxs: Array[Double]): DataFrame = {
    require(mins.length == maxs.length, "sq8Quantize: codebook length mismatch")
    val mn = array(mins.map(lit): _*)
    val mx = array(maxs.map(lit): _*)
    // literal-array element_at inside the lambda is cheap (no outer-capture
    // re-evaluation: the captured subtrees are constants)
    val q = transform(asDouble(vec), (v, i) =>
      when(element_at(mx, i + 1) === element_at(mn, i + 1), lit(0L))
        .otherwise(floor((v - element_at(mn, i + 1)) * lit(255.0) /
          (element_at(mx, i + 1) - element_at(mn, i + 1))).cast("long")))
    df.select(id.as("id"), q.as("q"))
  }

  /** Brute-force top-k over SQ8 codes by integer dot product (asymmetric
    * search deliberately avoided: symmetric integer dot keeps the oracle
    * exact). Same Q-broadcast shape as [[bruteForceTopK]], but every
    * multiply-add is BIGINT (bounded by dim * 255^2 < 2^23 per pair). */
  def sq8TopK(corpus: DataFrame, queries: DataFrame, k: Int): DataFrame = {
    val c = corpus.select(col("id").as("neighbor_id"), col("q").as("c_q"))
    val qr = queries.select(col("id").as("query_id"), col("q").as("q_q"))
    val scored = c.crossJoin(broadcast(qr))
      .filter(col("query_id") =!= col("neighbor_id"))
      .select(col("query_id"), col("neighbor_id"),
        aggregate(zip_with(col("q_q"), col("c_q"), (x, y) => x * y),
          lit(0L), (acc, v) => acc + v).as("score"))
    val w = Window.partitionBy("query_id").orderBy(col("score").desc, col("neighbor_id"))
    scored.withColumn("rank", row_number().over(w)).filter(col("rank") <= k)
      .select(col("query_id"), col("rank").cast("long").as("rank"),
        col("neighbor_id"), col("score"))
  }

  /** Recall@k of an approximate neighbor set against the exact one — the
    * standard ANN quality metric, as a relation so it runs at corpus scale
    * (evaluating recall over a large query sample is itself a distributed
    * job). Both inputs are (query_id, neighbor_id) sets whose generators
    * order deterministically (score desc, neighbor_id), so the metric is
    * exact cross-engine: hits is a BIGINT and recall = hits / k is one IEEE
    * division of small integers. One hash join on (query_id, neighbor_id)
    * plus a per-query aggregation; every query in `exact` emits a row, so
    * zero-overlap queries report recall 0 rather than vanishing. */
  def recallAtK(exact: DataFrame, approx: DataFrame, k: Int): DataFrame = {
    val hit = approx.select(col("query_id"), col("neighbor_id"), lit(1L).as("hit"))
    exact.select(col("query_id"), col("neighbor_id"))
      .join(hit, Seq("query_id", "neighbor_id"), "left")
      .groupBy(col("query_id"))
      .agg(sum(coalesce(col("hit"), lit(0L))).cast("long").as("hits"))
      .withColumn("recall", col("hits").cast("double") / lit(k.toDouble))
  }

  /** Bucketed ANN: top-k by cosine within the query's coarse bucket only.
    * The join is on bucket id — co-partitioned, no cross join. */
  def bucketedTopK(corpus: DataFrame, queries: DataFrame, id: Column, vec: Column,
      k: Int, probeDims: Int): DataFrame = {
    val c = corpus.select(id.as("neighbor_id"), asDouble(vec).as("c_vec"),
      bucket(vec, probeDims).as("bucket"))
    val q = queries.select(id.as("query_id"), asDouble(vec).as("q_vec"),
      bucket(vec, probeDims).as("bucket"))
    val scored = c.join(broadcast(q), "bucket")
      .filter(col("query_id") =!= col("neighbor_id"))
      .select(col("query_id"), col("neighbor_id"),
        cosine(col("q_vec"), col("c_vec")).as("score"))
    val w = Window.partitionBy("query_id").orderBy(col("score").desc, col("neighbor_id"))
    scored.withColumn("rank", row_number().over(w)).filter(col("rank") <= k)
      .select("query_id", "rank", "neighbor_id")
  }

  // -------------------------------------------------- product quantization

  /** PQ codebooks (Jégou et al.): the vector space is split into `m`
    * subspaces of dim/m coordinates, and each subspace trains its OWN small
    * exact quantized Lloyd's ([[kmeansCentroids]] on the slice — same
    * maximin seeding, same floor(sum/cnt) updates, so the whole training is
    * bit-reproducible and SQL-unrollable). Returns m codebooks of
    * ksub×(dim/m) quantized centroids.
    *
    * The 100 TB shape: codebooks compress a vector to m small codes (m·log2
    * ksub bits vs dim·32) — the index the ANN tier actually stores — and
    * training reads the corpus (or a [[graft.ops.Sampling]] hash-sample of
    * it, the production setting) m times map-side; nothing here shuffles
    * more than K×dim rows per iteration. */
  def pqCodebooks(df: DataFrame, id: Column, vec: Column, dim: Int, m: Int,
      ksub: Int, iters: Int, scale: Int = 1000,
      seedSampleFraction: Option[Double] = None): Array[Array[Array[Long]]] = {
    require(m >= 1 && dim % m == 0, s"dim=$dim not divisible by m=$m")
    require(ksub >= 1, s"ksub=$ksub must be >= 1")
    val w = dim / m
    // All m subquantizers train in ONE pass per seeding round / Lloyd
    // iteration (the FAISS shape): the per-subspace trainings are
    // independent, so each driver-synchronous job carries every subspace at
    // once — job count is O(ksub + iters), not O(m*(ksub + iters)), and the
    // corpus is checkpointed once, not m times. Per-subspace math (maximin
    // start/tie rules, floor(sum/cnt) updates) is identical to training each
    // slice through [[kmeansCentroids]], so the returned codebooks are
    // bit-for-bit the same and the unrolled SQL oracle is unchanged.
    val qs = array((0 until m).map(s =>
      quantCol(slice(asDouble(vec), s * w + 1, w), scale)): _*)
    def subvecs(r: org.apache.spark.sql.Row, i: Int): Array[Array[Long]] =
      r.getSeq[scala.collection.Seq[Long]](i).map(_.toArray).toArray
    // SMALL-CORPUS FAST PATH (the [[kmeansCentroids]] one, per subspace):
    // one bounded limit-collect of the Spark-quantized subvectors replaces
    // the ksub-1 seeding jobs and the per-iteration joint-Lloyd jobs; each
    // subspace then trains through [[kmeansDriver]], whose math is the
    // distributed loop's bit-for-bit (PqSpec pins the paths equal). Above
    // the bound the probe is abandoned for the scale-correct job loop.
    val probe = df.select(id.as("id"), qs.as("qs"))
    val local = if (seedSampleFraction.nonEmpty) None
      else Bounded.collect("pqCodebooks", probe, localBound, Key, arrayOf(arrayOf(Lng)))
    local.map { head =>
      require(head.length >= ksub, s"corpus has fewer than ksub=$ksub vectors")
      val pts = head.map(r => (r.get(0), subvecs(r, 1)))
        .sortBy(_._1)(Bounded.keyOrdering).map(_._2)
      Array.tabulate(m)(s => kmeansDriver(pts.map(_(s)), ksub, iters))
    }.getOrElse {
      val q = probe.localCheckpoint()
      val chosen: Array[scala.collection.mutable.ArrayBuffer[Array[Long]]] =
        seedSampleFraction match {
          case Some(f) =>
            // one collect of the hash sample; per-subspace maximin driver-side
            // with the same start/tie rules as the exact path
            require(f > 0 && f <= 1, s"seedSampleFraction out of (0,1]: $f")
            val rows = Sampling.sampleByHash(q, col("id"), f)
              .select(col("id"), col("qs")).collect()
            require(rows.length >= ksub,
              s"seed sample has ${rows.length} < ksub=$ksub points; raise seedSampleFraction")
            val pts = rows.map(r => (r.get(0), subvecs(r, 1)))
              .sortBy(_._1)(Bounded.keyOrdering)
            Array.tabulate(m) { s =>
              maximinDriver(pts.map(_._2(s)), ksub)
            }
          case None =>
            // init + N >= ksub guard in one TakeOrdered (as in [[maximinExact]])
            val head = q.orderBy(col("id")).limit(ksub).collect()
            require(head.length == ksub, s"corpus has fewer than ksub=$ksub vectors")
            val acc = Array.tabulate(m)(s =>
              scala.collection.mutable.ArrayBuffer(subvecs(head(0), 1)(s)))
            var r = 1
            while (r < ksub) {
              // ONE job picks the farthest point of EVERY subspace: per-row
              // min-distance to each subspace's chosen set, exploded to
              // (subspace, d), per-subspace argmax with ties to the smaller id
              val ds = array((0 until m).map(s =>
                minDistCol(element_at(col("qs"), s + 1), acc(s).toSeq)): _*)
              val rn = org.apache.spark.sql.expressions.Window
                .partitionBy(col("s")).orderBy(col("d").desc, col("id"))
              val best = q.select(col("id"), col("qs"), posexplode(ds).as(Seq("s", "d")))
                .withColumn("rn", row_number().over(rn)).filter(col("rn") === 1)
                .select(col("s"), col("qs")).collect()
              best.foreach { row => acc(row.getInt(0)) += subvecs(row, 1)(row.getInt(0)) }
              r += 1
            }
            acc
        }
      var books: Array[Array[Array[Long]]] = chosen.map(_.toArray)
      for (_ <- 1 to iters) {
        // ONE job sums every subspace: (s, cluster_s, pos, coordinate)
        val cl = array((0 until m).map(s =>
          nearestCentroid(element_at(col("qs"), s + 1), books(s))): _*)
        val sums = q.select(col("qs"), posexplode(cl).as(Seq("s", "cl")))
          .select(col("s"), col("cl"),
            posexplode(element_at(col("qs"), col("s") + 1)).as(Seq("pos", "v")))
          .groupBy(col("s"), col("cl"), col("pos"))
          .agg(sum(col("v")).as("sv"), count(lit(1)).as("cnt"))
          .collect()
        val next = books.map(_.map(_.clone()))
        sums.foreach { row =>
          next(row.getInt(0))(row.getLong(1).toInt)(row.getInt(2)) =
            math.floor(row.getLong(3).toDouble / row.getLong(4)).toLong
        }
        books = next
      }
      books
    }
  }

  /** Driver-side maximin over an id-ordered point set (first point = the
    * smallest id; ties to the first index = the smaller id). */
  private def maximinDriver(pts: Array[Array[Long]], k: Int)
      : scala.collection.mutable.ArrayBuffer[Array[Long]] = {
    def d2(a: Array[Long], b: Array[Long]): Long = {
      var s = 0L; var i = 0
      while (i < a.length) { val d = a(i) - b(i); s += d * d; i += 1 }
      s
    }
    val chosen = scala.collection.mutable.ArrayBuffer(pts(0))
    val minD = pts.map(p => d2(p, chosen(0)))
    while (chosen.length < k) {
      var best = 0; var i = 1
      while (i < pts.length) { if (minD(i) > minD(best)) best = i; i += 1 }
      val seed = pts(best)
      chosen += seed
      i = 0
      while (i < pts.length) {
        val d = d2(pts(i), seed); if (d < minD(i)) minD(i) = d; i += 1
      }
    }
    chosen
  }

  /** PQ encoding: per subspace the nearest-codebook-centroid index — m
    * native argmin kernels per row, map-side only (the codebooks ride as
    * reference objects, no join). Output: (id, codes array<long> length m). */
  def pqEncode(df: DataFrame, id: Column, vec: Column, dim: Int,
      books: Array[Array[Array[Long]]], scale: Int = 1000): DataFrame = {
    val m = books.length
    val w = dim / m
    val codes = array((0 until m).map(s =>
      nearestCentroid(quantCol(slice(asDouble(vec), s * w + 1, w), scale), books(s))): _*)
    df.select(id.as("id"), codes.as("codes"))
  }

  /** Asymmetric-distance (ADC) top-k over PQ codes: dist(query, code) =
    * Σ_s d2(q_s, books(s)(code_s)) — all-integer, so ranks are exact
    * cross-engine. Declarative shape for the oracle: codes posexplode to
    * (id, s, code), one broadcast join against the (m·ksub)-row codebook
    * relation, one broadcast of the quantized queries, then a (query,
    * neighbor) sum + per-query top-k window. At production scale the same
    * quantity is one scan with a per-query lookup-table kernel (the
    * [[sq8TopK]] native-expression pattern); this relation IS that kernel's
    * spec. Self-matches are excluded (the ANN-family convention). */
  def pqTopK(codes: DataFrame, queries: DataFrame, id: Column, vec: Column, dim: Int,
      books: Array[Array[Array[Long]]], k: Int, scale: Int = 1000): DataFrame = {
    val m = books.length
    val w = dim / m
    val spark = codes.sparkSession
    import spark.implicits._
    val bookDf = (for (s <- 0 until m; c <- books(s).indices)
      yield (s.toLong, c.toLong, books(s)(c).toSeq)).toDF("s", "code", "cq")
    val q = queries.select(id.as("query_id"),
      array((0 until m).map(s => quantCol(slice(asDouble(vec), s * w + 1, w), scale)): _*)
        .as("qsubs"))
    val corpus = codes
      .select(col("id").as("neighbor_id"), posexplode(col("codes")).as(Seq("p", "c")))
      .select(col("neighbor_id"), col("p").cast("long").as("s"), col("c").as("code"))
      .join(broadcast(bookDf), Seq("s", "code"))
    val d2 = aggregate(
      zip_with(element_at(col("qsubs"), (col("s") + 1).cast("int")), col("cq"),
        (x, y) => (x - y) * (x - y)),
      lit(0L), (acc, v) => acc + v)
    val dist = corpus.crossJoin(broadcast(q))
      .filter(col("query_id") =!= col("neighbor_id"))
      .select(col("query_id"), col("neighbor_id"), d2.as("d"))
      .groupBy(col("query_id"), col("neighbor_id")).agg(sum(col("d")).as("dist"))
    val wdw = Window.partitionBy(col("query_id")).orderBy(col("dist"), col("neighbor_id"))
    dist.withColumn("rank", row_number().over(wdw)).filter(col("rank") <= k)
      .select(col("query_id"), col("rank").cast("long").as("rank"),
        col("neighbor_id"), col("dist").cast("long").as("dist"))
  }

  /** IVF-PQ (Jégou et al. §IV) — the production ANN composite: a coarse
    * learned quantizer routes every vector to a cell, ONE PQ codebook set is
    * trained on the pooled RESIDUALS (quantized vector − its cell centroid,
    * exact BIGINT differences), and search is asymmetric distance between
    * the query's residual and member codes WITHIN the query's cell only.
    *
    * Scale shapes: coarse assignment and residuals are map-side (native
    * argmin kernel + the centroid matrix as a literal — no join); the
    * residual relation is materialized ONCE (localCheckpoint) because PQ
    * training, encoding and the cell join all consume it; the search is a
    * co-partitioned equijoin on cell with the small query side broadcast —
    * never a cross join. Residuals sharpen the codebooks exactly as in
    * FAISS's IVFPQ: within a cell the residual spread is what the ksub
    * codewords must cover, not the whole space.
    *
    * All-integer ADC (scale=1 reuse of the PQ machinery on already-quantized
    * residuals), so ranks are exact cross-engine. Output:
    * (query_id, rank, neighbor_id, dist). */
  def ivfPqTopK(corpus: DataFrame, queries: DataFrame, id: Column, vec: Column,
      dim: Int, coarse: Array[Array[Long]], m: Int, ksub: Int, iters: Int,
      k: Int, scale: Int = 1000): DataFrame = {
    require(m >= 1 && dim % m == 0, s"dim=$dim not divisible by m=$m")
    val w = dim / m
    val centsLit = typedLit(coarse.map(_.toSeq).toSeq)
    def residuals(df: DataFrame): DataFrame =
      df.select(id.as("id"), quantCol(vec, scale).as("q"))
        .withColumn("cell", nearestCentroid(col("q"), coarse))
        .select(col("id"), col("cell"),
          zip_with(col("q"), element_at(centsLit, col("cell").cast("int") + 1),
            (a, b) => a - b).as("res"))
    val cres = residuals(corpus).localCheckpoint() // feeds training + encode + join
    val books = pqCodebooks(cres, col("id"), col("res"), dim, m, ksub, iters, scale = 1)
    val codes = pqEncode(cres, col("id"), col("res"), dim, books, scale = 1)
      .join(cres.select(col("id"), col("cell")), Seq("id"))

    val spark = corpus.sparkSession
    import spark.implicits._
    val bookDf = (for (s <- 0 until m; c <- books(s).indices)
      yield (s.toLong, c.toLong, books(s)(c).toSeq)).toDF("s", "code", "cq")
    val q = residuals(queries).select(col("id").as("query_id"), col("cell"),
      array((0 until m).map(s => slice(col("res"), s * w + 1, w)): _*).as("qsubs"))
    val corpusCodes = codes
      .select(col("id").as("neighbor_id"), col("cell"), posexplode(col("codes")).as(Seq("p", "c")))
      .select(col("neighbor_id"), col("cell"), col("p").cast("long").as("s"), col("c").as("code"))
      .join(broadcast(bookDf), Seq("s", "code"))
    val d2 = aggregate(
      zip_with(element_at(col("qsubs"), (col("s") + 1).cast("int")), col("cq"),
        (x, y) => (x - y) * (x - y)),
      lit(0L), (acc, v) => acc + v)
    val dist = corpusCodes.join(broadcast(q), Seq("cell")) // IVF: cell equijoin, no cross join
      .filter(col("query_id") =!= col("neighbor_id"))
      .select(col("query_id"), col("neighbor_id"), d2.as("d"))
      .groupBy(col("query_id"), col("neighbor_id")).agg(sum(col("d")).as("dist"))
    val wdw = Window.partitionBy(col("query_id")).orderBy(col("dist"), col("neighbor_id"))
    dist.withColumn("rank", row_number().over(wdw)).filter(col("rank") <= k)
      .select(col("query_id"), col("rank").cast("long").as("rank"),
        col("neighbor_id"), col("dist").cast("long").as("dist"))
  }
}
