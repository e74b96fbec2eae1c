package graft.ops

import org.apache.spark.sql.{Column, DataFrame, Observation}
import org.apache.spark.sql.functions._
import graft.exec.{Bounded, Observed}
import graft.exec.Bounded.Key

/** Deduplication operators for large-scale training-data pipelines.
  *
  * All operators are declarative DataFrame transforms (codegen'd built-ins, no
  * UDFs) so Catalyst handles pushdown/pruning, and every shuffle is an explicit
  * hash-partition on the dedup key:
  *
  *  - exact:    groupBy(md5(text)) — one shuffle on the 128-bit hash.
  *  - minhash:  shingle -> per-band min-hash signature (map-side only) ->
  *              self-join on (band, sig) buckets -> exact-Jaccard verify.
  *              At 100 TB the bucket join is the scale path: candidate pairs
  *              are generated per bucket instead of all-pairs.
  *  - simhash:  per-token md5-nibble votes -> sign bits (map-side only).
  *  - n-gram Jaccard: exact verify on candidate pairs.
  *
  * Hash function: md5 hex strings (identical in Spark and DuckDB, which is the
  * correctness oracle); minhash per band b of shingle s = md5(b || '|' || s),
  * minimized lexicographically — an order-preserving stand-in for integer
  * minhash with identical LSH properties.
  */
object Dedup {

  /** Tokenize a text column exactly like graft.text.TextOps.tokenize. */
  def tokens(text: Column): Column = split(trim(text), raw"\s+")

  /** w-gram shingles over a token array (w >= 1), space-joined.
    *
    * Built as a zip_with/slice chain so every lambda is PURE (references only
    * its lambda variables): a lambda that captures an outer expression makes
    * Catalyst re-evaluate that subtree per element — with element_at(toks, i)
    * inside the lambda the upstream split() ran O(tokens) times per document
    * (measured 70x slowdown on the minhash path).
    *
    * Guarded for short docs: Spark's sequence/slice arithmetic would go
    * negative for size < w. */
  def shingles(toks: Column, w: Int): Column =
    if (w == 1) toks
    else {
      val n = size(toks) - (w - 1) // number of shingles
      val chain = (1 until w).foldLeft(slice(toks, lit(1), n)) { (acc, k) =>
        zip_with(acc, slice(toks, lit(k + 1), n), (a, b) => concat(a, lit(" "), b))
      }
      when(size(toks) >= w, chain).otherwise(array().cast("array<string>"))
    }

  /** Exact dedup: one row per distinct text hash with multiplicity and the
    * canonical (minimum-id) representative. */
  def exact(df: DataFrame, text: Column, id: Column): DataFrame =
    df.groupBy(md5(text.cast("binary")).as("text_hash"))
      .agg(count(lit(1)).as("cnt"), min(id).as("min_id"))

  /** Mersenne-prime modulus for the minhash permutation family. */
  val MinhashP = 2147483647L // 2^31 - 1

  /** Integer base hash of a shingle: top 60 bits of md5, mod P. md5-derived so
    * the DuckDB oracle computes the identical value; all arithmetic stays below
    * 2^62 (DuckDB BIGINT overflow is an error, not a wrap). */
  def baseHash(s: Column): Column =
    conv(substring(md5(s.cast("binary")), 1, 15), 16, 10).cast("long") % MinhashP

  /** k-th permutation of the family: h -> (A_k * h + B_k) mod P. */
  private def affine(k: Int, h: Column): Column =
    (lit(1103515245L + 12345L * k) * h + lit(104729L + 7919L * k)) % MinhashP

  /** Minhash signatures: one row per (id, band); the band signature is the
    * '_'-joined concatenation of `rowsPerBand` min-hashes (standard LSH
    * banding: P(band match) = J^rowsPerBand — the knob that keeps bucket sizes
    * and the candidate join subquadratic at scale). One md5 per shingle: the
    * k permutations are affine transforms of one base hash, and the base-hash
    * array is materialized in its own projection so downstream band
    * expressions re-read it instead of recomputing the md5s. Map-side only. */
  def minhashSignatures(df: DataFrame, text: Column, id: Column, bands: Int, shingleW: Int,
      rowsPerBand: Int = 1): DataFrame =
    bandSignatures(
      df.select(id.as("id"), transform(shingles(tokens(text), shingleW), baseHash(_)).as("base")),
      bands, rowsPerBand)

  /** Band signatures from a pre-hashed shingle relation (id, base: array<long>).
    * Shared by document dedup (word shingles) and entity linking (char
    * shingles, graft.link.Linker): one row per (id, band). Map-side only.
    * Columns besides `base` pass through unchanged (e.g. an event-time
    * column for the streaming variant). */
  def bandSignatures(based: DataFrame, bands: Int, rowsPerBand: Int): DataFrame = {
    val bandRows = (0 until bands).map { b =>
      val hashes = (0 until rowsPerBand).map { k =>
        array_min(transform(col("base"), h => affine(b * rowsPerBand + k, h))).cast("string")
      }
      val sig = hashes.reduceLeft((a, c) => concat(a, lit("_"), c))
      struct(lit(b).as("band"), sig.as("sig"))
    }
    val keep = based.columns.filterNot(_ == "base").map(col)
    based.select(keep :+ explode(array(bandRows: _*)).as("bs"): _*)
      .select(keep :+ col("bs.band").as("band") :+ col("bs.sig").as("sig"): _*)
      .filter(col("sig").isNotNull)
  }

  /** LSH candidate pairs: ids sharing at least one (band, sig) bucket, a < b.
    * The self-join shuffles on the bucket key only.
    *
    * `maxBucketSize` is the web-scale safety knob: a degenerate bucket (e.g.
    * boilerplate/empty-ish shingle sets hashing together across 10^9 docs)
    * would otherwise produce |bucket|² candidate pairs in one reducer. Buckets
    * larger than the cap are DROPPED before the join — for near-duplicate
    * detection that loses only pathological collisions (true near-dup clusters
    * that big are better handled by exact-hash dedup first). Default: no cap
    * (exact LSH semantics — what the DuckDB oracle checks). */
  def minhashCandidates(sigs: DataFrame, maxBucketSize: Int = Int.MaxValue): DataFrame = {
    val bounded =
      if (maxBucketSize == Int.MaxValue) sigs
      else {
        // window-free capping: count per bucket (map-side partials), anti-join
        // the oversized buckets away
        val oversized = sigs.groupBy("band", "sig")
          .agg(count(lit(1)).as("__n")).filter(col("__n") > maxBucketSize)
          .select("band", "sig")
        sigs.join(oversized, Seq("band", "sig"), "left_anti")
      }
    // the self-join consumes the signature relation TWICE (and AQE often
    // plans one side as a broadcast build, which defeats exchange reuse) —
    // materialize once so the upstream shingle+minhash computation runs a
    // single pass (measured: dedup_minhash_pairs 1.54s -> ~1.0s at sf0.1;
    // the classic materialize-before-self-join shape, fine at scale: the
    // relation is corpus x bands-sized, stored once instead of computed
    // twice)
    val once = bounded.localCheckpoint()
    val a = once.select(col("band"), col("sig"), col("id").as("a_id"))
    val b = once.select(col("band"), col("sig"), col("id").as("b_id"))
    a.join(b, Seq("band", "sig"))
      .filter(col("a_id") < col("b_id"))
      .select("a_id", "b_id").distinct()
  }

  /** Exact Jaccard over distinct w-gram shingle sets for given candidate pairs
    * (verify stage after LSH blocking). */
  def jaccardVerify(df: DataFrame, text: Column, id: Column, candidates: DataFrame, shingleW: Int): DataFrame =
    verifyPairs(df, text, id, candidates, shingleW) { (aSh, bSh) =>
      Seq((size(array_intersect(aSh, bSh)).cast("double") /
        size(array_union(aSh, bSh)).cast("double")).as("jaccard"))
    }

  /** Shared verify-stage join: the candidate pairs pick up each side's
    * distinct shingle set and `out` computes the similarity columns.
    *
    * Shape note (A/B-measured, round 6): the lazy one-action form below —
    * candidates consumed in place, the shingle-set projection derived once
    * per join side with the tiny candidate relation broadcast — beat a
    * "checkpoint candidates + semi-join-prune the shingle computation to
    * candidate docs" rewrite 2.65s vs 3.10s at sf0.1, because LSH candidates
    * there touch ~40% of all docs (pruning saves little shingle work) while
    * the rewrite adds a materialization barrier and a second corpus scan.
    * Revisit the pruned form only for candidate sets that are small relative
    * to the corpus. */
  private def verifyPairs(df: DataFrame, text: Column, id: Column,
      candidates: DataFrame, shingleW: Int)(
      out: (Column, Column) => Seq[Column]): DataFrame = {
    val sets = df.select(id.as("id"),
      array_distinct(shingles(tokens(text), shingleW)).as("sh"))
    candidates
      .join(sets.withColumnRenamed("id", "a_id").withColumnRenamed("sh", "a_sh"), "a_id")
      .join(sets.withColumnRenamed("id", "b_id").withColumnRenamed("sh", "b_sh"), "b_id")
      .select(col("a_id") +: col("b_id") +: out(col("a_sh"), col("b_sh")): _*)
  }

  /** Asymmetric CONTAINMENT verification over candidate pairs:
    * |A∩B| / |A| and |A∩B| / |B| — the subset-duplicate detector Jaccard
    * misses (a short doc fully embedded in a long one scores low Jaccard but
    * containment 1.0; the common webtext case of an article + the article
    * inside a longer aggregation page). Same candidate-only join shape as
    * [[jaccardVerify]]; the integer pieces are exact and each ratio is one
    * double division of exact ints (bit-identical cross-engine). Output:
    * (a_id, b_id, inter, size_a, size_b, containment_a, containment_b). */
  def containmentVerify(df: DataFrame, text: Column, id: Column,
      candidates: DataFrame, shingleW: Int): DataFrame =
    verifyPairs(df, text, id, candidates, shingleW) { (aSh, bSh) =>
      val inter = size(array_intersect(aSh, bSh)).cast("long")
      val (sa, sb) = (size(aSh).cast("long"), size(bSh).cast("long"))
      Seq(inter.as("inter"), sa.as("size_a"), sb.as("size_b"),
        (inter.cast("double") / sa.cast("double")).as("containment_a"),
        (inter.cast("double") / sb.cast("double")).as("containment_b"))
    }

  /** Pair-list row bound of [[clusters]]' driver union-find. */
  private val localBound = 65536

  /** Duplicate-cluster assignment: connected components over verified
    * candidate pairs via iterative min-label propagation (the distributed
    * union-find). Output: (id, cluster) with cluster = smallest member id —
    * the canonical representative (keep-one dedup selects cluster == id).
    *
    * Each iteration is one join + aggregate; iteration count is O(log n) for
    * the near-clique components dedup produces. Labels are persisted per
    * round and lineage is cut so plans stay bounded. `maxIter` bounds only
    * this distributed loop, which raises rather than return a labeling that
    * has not converged; the driver union-find below [[localBound]] always
    * converges. The (id, cluster) contract does not depend on which path
    * ran; run the call inside [[graft.exec.Bounded.distributedOnly]] to
    * force the distributed loop (the parity spec does).
    */
  def clusters(pairs: DataFrame, maxIter: Int = 20): DataFrame = {
    // SMALL-GRAPH FAST PATH: the output contract is ALGORITHM-INDEPENDENT —
    // (id, cluster) with cluster = the smallest member of id's component —
    // so when the pair list fits under `localBound` one bounded collect +
    // driver union-find yields the identical relation without the
    // per-round propagate/halve jobs (each a join + aggregate + checkpoint
    // whose real work is microseconds on a dedup-sized pair graph). Ids are
    // compared exactly as Spark's min would ([[Bounded.keyOrdering]]).
    // Above the bound, or on an id type the driver order does not cover,
    // the unchanged distributed loop runs — 10^9-doc candidate graphs
    // never collect.
    val ids = pairs.select(col("a_id"), col("b_id"))
    Bounded.collect("clusters", ids, localBound, Key, Key).map { probe =>
      val parent = collection.mutable.HashMap.empty[Any, Any]
      def find(x: Any): Any = {
        var r = x
        while (parent(r) != r) r = parent(r)
        var c = x
        while (parent(c) != c) { val n = parent(c); parent(c) = r; c = n }
        r
      }
      probe.foreach { r =>
        val (a, b) = (r.get(0), r.get(1))
        parent.getOrElseUpdate(a, a)
        parent.getOrElseUpdate(b, b)
        val (ra, rb) = (find(a), find(b))
        if (ra != rb) parent(ra) = rb
      }
      val minOf = collection.mutable.HashMap.empty[Any, Any]
      parent.keys.foreach { n =>
        val r = find(n)
        minOf.get(r) match {
          case Some(m) if Bounded.keyOrdering.lteq(m, n) => ()
          case _ => minOf(r) = n
        }
      }
      val spark = pairs.sparkSession
      val idType = pairs.schema(pairs.schema.fieldIndex("a_id")).dataType
      val schema = org.apache.spark.sql.types.StructType(Seq(
        org.apache.spark.sql.types.StructField("id", idType),
        org.apache.spark.sql.types.StructField("cluster", idType)))
      val rows = parent.keys.toSeq.map(n =>
        org.apache.spark.sql.Row(n, minOf(find(n))))
      import scala.jdk.CollectionConverters._
      spark.createDataFrame(rows.asJava, schema)
    }.getOrElse {
      // localCheckpoint (NOT persist): each round must TRUNCATE the logical plan,
      // otherwise the plan tree deepens per iteration and AQE's per-action plan
      // stringification goes quadratic (measured: a 10-round loop spun minutes of
      // pure CPU inside explainString before any work ran)
      val edges = pairs.select(col("a_id").as("src"), col("b_id").as("dst"))
        .union(pairs.select(col("b_id"), col("a_id")))
        .localCheckpoint()
      var labels = edges.select(col("src").as("id")).distinct()
        .select(col("id"), col("id").as("cluster")).localCheckpoint()
      var changed = 1L
      var it = 0
      // convergence detection rides INSIDE the propagate job: each node's old
      // label is carried through the aggregation and compared in an observe()
      // metric collected during the same action that materializes the round —
      // one Spark action per round, not two. A fresh action on a deep plan
      // costs ~0.45s of Catalyst analysis regardless of data size (round-3
      // bench finding), so the separate changed-count join was pure overhead
      // that dominated link_groups end-to-end (round-3 verdict #1).
      while (changed > 0 && it < maxIter) {
        // candidate label per node: min over own label and neighbors' labels.
        // Own rows also carry the current label as `old` (null on neighbor
        // rows, typed via the never-true when); max() keeps the single
        // non-null old per id through the aggregate.
        val own = labels.select(col("id"), col("cluster"), col("cluster").as("old"))
        val viaNeighbors = edges
          .join(labels.withColumnRenamed("id", "src"), "src")
          .select(col("dst").as("id"), col("cluster"),
            when(lit(false), col("cluster")).as("old"))
        val propagated = own.union(viaNeighbors)
          .groupBy("id").agg(min(col("cluster")).as("cluster"), max(col("old")).as("old"))
        // pointer halving (union-find path compression, distributed): follow the
        // label one hop — cluster(id) := cluster(cluster(id)). Labels are node
        // ids, so the self-join always resolves; this turns chain-shaped
        // components (graph diameter d) from O(d) rounds into O(log d).
        val halved = propagated
          .join(propagated.select(col("id").as("cluster"), col("cluster").as("cluster2")),
            Seq("cluster"), "left")
          .select(col("id"), coalesce(col("cluster2"), col("cluster")).as("cluster"),
            col("old"))
        val changedObs = Observation()
        val next = halved
          .observe(changedObs, coalesce(
            sum(when(col("cluster") =!= col("old"), 1L).otherwise(0L)), lit(0L)).as("changed"))
          .select(col("id"), col("cluster"))
        val materialized = next.localCheckpoint()
        changed = Observed.long(changedObs, "Dedup.clusters changed labels")
        labels = materialized
        it += 1
      }
      // never exit silently with a non-fixpoint labeling: split clusters would
      // diverge from the connected-components contract without any signal
      if (changed > 0) throw new IllegalStateException(
        s"Dedup.clusters did not converge in $maxIter iterations ($changed labels still " +
          s"changing) — component diameter exceeds 2^$maxIter; raise maxIter")
      labels
    }
  }

  /** Exact n-gram overlap between a corpus and a probe set (eval-set
    * DECONTAMINATION: training documents sharing long exact n-grams with
    * benchmark/eval documents must be dropped — the standard contamination
    * check for LLM training data). Inverted-index join: explode distinct
    * n-grams on both sides, equi-join on the gram (shuffles on the gram key
    * only — never a doc×doc product), count shared grams per (doc, probe)
    * pair.
    *
    * `maxPostings` drops grams whose corpus document frequency exceeds the
    * cap — boilerplate grams both blow up the join (df² postings pairs) and
    * carry no contamination signal. */
  def ngramOverlap(corpus: DataFrame, probes: DataFrame, text: Column, id: Column,
      n: Int, minShared: Int = 1, maxPostings: Int = Int.MaxValue): DataFrame = {
    def grams(df: DataFrame, as: String) =
      df.select(id.as(as), explode(array_distinct(shingles(tokens(text), n))).as("g"))
    val c0 = grams(corpus, "doc_id")
    val c =
      if (maxPostings == Int.MaxValue) c0
      else {
        val hot = c0.groupBy("g").agg(count(lit(1)).as("__df"))
          .filter(col("__df") > maxPostings).select("g")
        c0.join(hot, Seq("g"), "left_anti")
      }
    c.join(grams(probes, "probe_id"), Seq("g"))
      .filter(col("doc_id") =!= col("probe_id"))
      .groupBy("doc_id", "probe_id").agg(count(lit(1)).as("shared_ngrams"))
      .filter(col("shared_ngrams") >= minShared)
  }

  /** Drop (band, sig) buckets with more than `maxBucketSize` members — the
    * degenerate-boilerplate guard shared by the pairwise, incremental, and
    * signature-store candidate generators. Identity when the cap is off. */
  def cappedSigs(sigs: DataFrame, maxBucketSize: Int): DataFrame =
    if (maxBucketSize == Int.MaxValue) sigs
    else {
      val oversized = sigs.groupBy("band", "sig")
        .agg(count(lit(1)).as("__n")).filter(col("__n") > maxBucketSize)
        .select("band", "sig")
      sigs.join(oversized, Seq("band", "sig"), "left_anti")
    }

  /** Incremental near-duplicate candidates: a NEW batch of documents against
    * an existing corpus SIGNATURE STORE — the shape a continuously-ingesting
    * 100 TB pipeline needs (re-minhashing the historical corpus per batch
    * would be O(corpus) work per ingest; the store is computed once by
    * [[minhashSignatures]] and persisted, each batch only computes its own
    * signatures map-side and equi-joins the store on the (band, sig) bucket
    * key).
    *
    * `maxBucketSize` caps the CORPUS side: store buckets larger than the cap
    * (boilerplate signatures accumulated over the corpus lifetime) are dropped
    * before the join — otherwise one degenerate bucket contributes
    * |bucket| postings per matching batch doc, forever. Output:
    * (batch_id, corpus_id) distinct candidate pairs. */
  def incrementalCandidates(corpusSigs: DataFrame, batchSigs: DataFrame,
      maxBucketSize: Int = Int.MaxValue): DataFrame = {
    val store = cappedSigs(corpusSigs, maxBucketSize)
    batchSigs.select(col("band"), col("sig"), col("id").as("batch_id"))
      .join(store.select(col("band"), col("sig"), col("id").as("corpus_id")),
        Seq("band", "sig"))
      .select("batch_id", "corpus_id").distinct()
  }

  /** Incremental dedup end-to-end: batch docs that are near-duplicates of any
    * corpus doc, with the exact-Jaccard evidence. Output: (batch_id,
    * corpus_id, jaccard) for pairs at or above `threshold` — dropping
    * `batch_id`s from the ingest (and appending the survivors' signatures to
    * the store) completes the cycle. Shingle sets are computed per SIDE, so
    * the corpus text is touched only for verified candidates' rows. */
  def incrementalNearDups(corpus: DataFrame, batch: DataFrame, text: Column, id: Column,
      bands: Int, shingleW: Int, rowsPerBand: Int = 1, threshold: Double = 0.8,
      maxBucketSize: Int = Int.MaxValue): DataFrame = {
    val cand = incrementalCandidates(
      minhashSignatures(corpus, text, id, bands, shingleW, rowsPerBand),
      minhashSignatures(batch, text, id, bands, shingleW, rowsPerBand),
      maxBucketSize)
    def sets(df: DataFrame, as: String, shAs: String) =
      df.select(id.as(as), array_distinct(shingles(tokens(text), shingleW)).as(shAs))
    cand
      .join(sets(batch, "batch_id", "b_sh"), "batch_id")
      .join(sets(corpus, "corpus_id", "c_sh"), "corpus_id")
      .select(col("batch_id"), col("corpus_id"),
        (size(array_intersect(col("b_sh"), col("c_sh"))).cast("double") /
          size(array_union(col("b_sh"), col("c_sh"))).cast("double")).as("jaccard"))
      .filter(col("jaccard") >= threshold)
  }

  /** Semantic (embedding-space) dedup, SemDedup-style: near-duplicate pairs
    * from hyperplane-LSH cosine (bucket join, never all-pairs —
    * [[graft.ops.Similarity.lshCosinePairs]]), connected components over the
    * pair graph, keep the minimum-id representative per component plus every
    * never-paired row. The embedding analogue of the minhash keep-one chain:
    * candidate generation is a band bucket join, verification touches only
    * candidates, clustering is the same O(log d) pointer-halving components.
    * Output: one `id` column of survivors. */
  def semanticKeepOne(df: DataFrame, id: Column, vec: Column, threshold: Double,
      dim: Int, bands: Int = 4, rowsPerBand: Int = 8,
      maxBucketSize: Int = Int.MaxValue): DataFrame = {
    val pairs = Similarity.lshCosinePairs(df, id, vec, threshold, dim,
      bands, rowsPerBand, maxBucketSize = maxBucketSize)
    val labels = clusters(pairs.select(col("a_id"), col("b_id")))
    df.select(id.as("id"))
      .join(labels, Seq("id"), "left")
      .filter(col("cluster").isNull || col("cluster") === col("id"))
      .select(col("id"))
  }

  /** Quality-aware representative selection: like keep-one, but per
    * near-duplicate cluster keep the row with the HIGHEST `score` (ties by
    * smallest id) instead of the smallest id — the curation-grade variant
    * (keep the longest/cleanest copy of a page, not an arbitrary one).
    *
    * `score` must be an exact integer expression (e.g. a token count) so the
    * (score DESC, id ASC) argmax is bit-identical cross-engine. The argmax is
    * a row_number window per cluster label; Spark's WindowGroupLimit pushes
    * rank<=1 into the window operator, so each partition keeps ONE row per
    * cluster before any sort materializes — the same 100 TB shape as
    * [[graft.ops.DocKg.topRelations]]. Never-paired rows survive untouched
    * (left join, null cluster). Output: one `id` column of survivors. */
  def keepBest(df: DataFrame, id: Column, score: Column, verifiedPairs: DataFrame,
      maxIter: Int = 20): DataFrame = {
    val labels = clusters(verifiedPairs.select(col("a_id"), col("b_id")), maxIter)
    val scored = df.select(id.as("id"), score.cast("long").as("score"))
      .join(labels, Seq("id"), "left")
    val unpaired = scored.filter(col("cluster").isNull).select(col("id"))
    val w = org.apache.spark.sql.expressions.Window
      .partitionBy(col("cluster"))
      .orderBy(col("score").desc, col("id").asc)
    val best = scored.filter(col("cluster").isNotNull)
      .withColumn("rn", row_number().over(w))
      .filter(col("rn") === 1).select(col("id"))
    unpaired.union(best)
  }

  /** SimHash over token multiset: bit j of the signature is the sign of the
    * sum over tokens of (2*bit_j(md5(token)) - 1). `bits` <= 128 (md5 width:
    * 32 hex nibbles x 4 bits; bit j = bit (j/32) of nibble (j%32), so j < 32
    * reproduces the original low-bit-of-nibble formula unchanged).
    * Declarative, engine-portable. The signature must be wide enough that the
    * per-chunk value space exceeds the corpus ([[simhashPairs]]): 16 bits is
    * a toy width — at 50k docs its 4-bit chunks put ~3k docs in every bucket
    * and the candidate join goes quadratic (caught by the 10x scale gate). */
  def simhash(df: DataFrame, text: Column, id: Column, bits: Int): DataFrame = {
    require(bits <= 128, s"bits=$bits > 128 (md5 width)")
    // native one-pass codegen kernel (graft.functions.SimhashSig): the
    // declarative HOF form below re-walks the token array `bits` times per
    // document interpreted — 64-bit signatures over sf0.1 documents
    // benchmarked 27 s declarative vs ~1 s native, same bits out
    // (DedupSpec asserts bit-identical signatures between the two paths)
    df.select(id.as("id"),
      coalesce(
        graft.functions.VectorExpressions.simhash_sig(tokens(text), bits),
        lit("0" * bits)).as("simhash"))
  }

  /** The declarative formulation of [[simhash]] (HOF aggregate per bit) —
    * kept as the cross-check oracle for the native kernel; not the hot path. */
  private[graft] def simhashDeclarative(df: DataFrame, text: Column, id: Column,
      bits: Int): DataFrame = {
    require(bits <= 128, s"bits=$bits > 128 (md5 width)")
    // md5 once per token in its OWN projection (not inside each bit's lambda:
    // `bits` lambdas re-hashing every token made the 64-bit path do 64x the
    // md5 work; a materialized array column is referenced per bit for free —
    // same discipline as shingles' pure-lambda rule)
    val base = df.select(id.as("id"),
      transform(tokens(text), t => md5(t.cast("binary"))).as("__hs"))
    val bitCols = (0 until bits).map { j =>
      val votes = aggregate(
        transform(col("__hs"), h =>
          shiftright(
            instr(lit("0123456789abcdef"), substring(h, j % 32 + 1, 1)) - 1,
            j / 32) % 2),
        lit(0L), (acc, v) => acc + v * 2 - 1)
      when(votes > 0, lit("1")).otherwise(lit("0"))
    }
    base.select(col("id"), concat(bitCols: _*).as("simhash"))
  }

  /** SimHash near-duplicate pairs via chunk banding (the classic large-scale
    * web-dedup candidate scheme, cf. Manku et al., WWW'07 — built here from
    * the public algorithm statement): the `bits`-bit signature splits into
    * `chunks` contiguous pieces, and by pigeonhole any two signatures at
    * Hamming distance <= chunks-1 agree on at least one whole chunk — so an
    * equi-join on (chunk index, chunk value) generates ALL such candidates
    * with one shuffle on the chunk key, never an all-pairs comparison. Exact
    * Hamming distance verifies; `maxHamming <= chunks-1` keeps the banding
    * lossless. `maxBucketSize` caps degenerate chunk buckets (constant /
    * boilerplate signature regions) exactly like the minhash band cap.
    * Default bits=64: 16-bit chunks give a 65k-value bucket space, the
    * minimum that stays sub-quadratic at ~100k docs (a 16-bit signature with
    * 4-bit chunks saturates its 16 buckets by ~1k docs — toy widths must be
    * opted into explicitly). Output: (a_id, b_id, hamming), a_id < b_id. */
  def simhashPairs(df: DataFrame, text: Column, id: Column, bits: Int = 64,
      chunks: Int = 4, maxHamming: Int = 3,
      maxBucketSize: Int = Int.MaxValue): DataFrame = {
    require(bits % chunks == 0, s"bits=$bits not divisible by chunks=$chunks")
    require(maxHamming <= chunks - 1,
      s"maxHamming=$maxHamming > chunks-1=${chunks - 1}: banding would lose recall " +
        "(a pair can differ in every chunk); raise chunks or lower maxHamming")
    val w = bits / chunks
    // the signature relation feeds THREE consumers (chunk banding + both
    // sides of the verify join) — truncate once so the SimhashSig kernel
    // runs one pass over the corpus, not three (the repo-wide
    // multi-consumer discipline; measured 1.9s -> 1.0s at sf0.1)
    val sh = simhash(df, text, id, bits).localCheckpoint()
    val chunkRows = sh.select(col("id"),
      posexplode(array((0 until chunks).map(k =>
        substring(col("simhash"), k * w + 1, w)): _*)))
      .select(col("id"), col("pos").as("band"), col("col").as("sig"))
    val cand = minhashCandidates(chunkRows, maxBucketSize)
    val a = sh.select(col("id").as("a_id"), col("simhash").as("a_sig"))
    val b = sh.select(col("id").as("b_id"), col("simhash").as("b_sig"))
    val ham = size(filter(
      zip_with(split(col("a_sig"), ""), split(col("b_sig"), ""), (x, y) => x =!= y),
      d => d)).cast("long")
    cand.join(a, "a_id").join(b, "b_id")
      .select(col("a_id"), col("b_id"), ham.as("hamming"))
      .filter(col("hamming") <= maxHamming)
  }

  /** Cross-document duplicated-SPAN removal (exact substring dedup, the
    * Lee et al. "Deduplicating Training Data Makes Language Models Better"
    * family): where doc-level dedup drops whole near-duplicate documents,
    * this removes REPEATED PASSAGES — boilerplate, quoted blocks, licence
    * headers — that recur across otherwise-distinct pages.
    *
    * Contract (deterministic, partition-invariant):
    *  - a w-token window is a GLOBAL DUPLICATE if it occurs in ≥ 2 distinct
    *    documents; the window's KEEPER is the minimum doc id containing it;
    *  - in every other document, all token positions covered by any
    *    occurrence of a duplicate window are dropped (overlaps union);
    *  - text is rebuilt from the surviving tokens in original order.
    *
    * Scale shape: gram relation is one flat-map of the token scan; duplicate
    * detection is ONE groupBy on the gram string (partial agg collapses
    * per-partition repeats); coverage is a gram-keyed join touching only
    * duplicate grams; rebuild is one groupBy on the doc id. No driver
    * iteration, no cross join — survives the corpus growing 100× with the
    * same three exchanges. Docs shorter than w tokens pass through whole.
    *
    * Output: (id, clean_text, removed_terms). */
  def spanDedup(df: DataFrame, text: Column, id: Column, w: Int = 5): DataFrame = {
    require(w >= 2 && w <= 64, s"window w must be in [2,64]: $w")
    val toks = df.select(id.cast("long").as("id"), tokens(text).as("terms"))
    val grams = toks
      .select(col("id"), posexplode(
        when(size(col("terms")) >= w,
          transform(sequence(lit(0), size(col("terms")) - w),
            i => array_join(slice(col("terms"), i + 1, lit(w)), " ")))
          .otherwise(array().cast("array<string>"))))
      .toDF("id", "pos", "gram")
    val dup = grams.groupBy(col("gram"))
      .agg(countDistinct(col("id")).as("ndocs"), min(col("id")).as("keeper"))
      .filter(col("ndocs") >= 2)
      .select(col("gram"), col("keeper"))
    val covered = grams.join(dup, "gram")
      .filter(col("id") =!= col("keeper"))
      .select(col("id"), explode(sequence(col("pos"), col("pos") + (w - 1))).as("tpos"))
      .distinct()
    val tokPos = toks.select(col("id"), posexplode(col("terms"))).toDF("id", "tpos", "term")
    val rebuilt = tokPos.join(covered, Seq("id", "tpos"), "left_anti")
      .groupBy(col("id"))
      .agg(
        array_join(transform(array_sort(collect_list(struct(col("tpos"), col("term")))),
          x => x("term")), " ").as("clean_text"),
        count(lit(1)).as("kept_n"))
    toks.select(col("id"), size(col("terms")).cast("long").as("n_terms"))
      .join(rebuilt, Seq("id"), "left")
      .select(col("id"),
        coalesce(col("clean_text"), lit("")).as("clean_text"),
        (col("n_terms") - coalesce(col("kept_n"), lit(0L))).as("removed_terms"))
  }

  /** Host-level boilerplate removal (the CCNet-family pass paragraphDedup
    * does NOT cover): a line is boilerplate WITHIN a group (host/source)
    * when it appears in ≥ num/den of the group's documents — nav bars,
    * cookie banners, footers — and is then removed from EVERY document of
    * that group, keeper included (unlike first-occurrence dedup, boilerplate
    * is noise everywhere). Groups need ≥ minDocs documents before the
    * frequency estimate is trusted; empty lines are exempt. The threshold is
    * the exact integer compare den·line_docs ≥ num·group_docs.
    *
    * Shapes: one (group, line) distinct-doc count co-partitioned with the
    * line explode, a group-size relation joined on the group key, one
    * anti-join to drop flagged lines, one doc-id groupBy to rebuild. The
    * exploded line relation is localCheckpointed once (three consumers).
    * Output: (id, n_lines, n_removed, clean_text). */
  def boilerplateRemove(df: DataFrame, text: Column, id: Column, group: Column,
      minDocs: Int = 5, num: Int = 5, den: Int = 10): DataFrame = {
    require(num >= 1 && den >= num, s"threshold $num/$den must be a fraction <= 1")
    val lines = df.select(group.as("g"), id.cast("long").as("id"),
        posexplode(split(text, "\n")).as(Seq("pos", "line")))
      .localCheckpoint()
    val gdocs = lines.select(col("g"), col("id")).distinct()
      .groupBy(col("g")).agg(count(lit(1)).as("gdocs"))
    val ldocs = lines.filter(length(col("line")) >= 1)
      .select(col("g"), col("id"), col("line")).distinct()
      .groupBy(col("g"), col("line")).agg(count(lit(1)).as("ldocs"))
    val boiler = ldocs.join(gdocs, "g")
      .filter(col("gdocs") >= minDocs &&
        col("ldocs") * den >= col("gdocs") * num)
      .select(col("g"), col("line"))
    val kept = lines.join(boiler, Seq("g", "line"), "left_anti")
    val reb = kept.groupBy(col("id"))
      .agg(count(lit(1)).as("kept_n"),
        array_join(transform(array_sort(collect_list(struct(col("pos"), col("line")))),
          x => x("line")), "\n").as("clean_text"))
    lines.groupBy(col("id")).agg(count(lit(1)).as("n_lines"))
      .join(reb, Seq("id"), "left")
      .select(col("id"), col("n_lines"),
        (col("n_lines") - coalesce(col("kept_n"), lit(0L))).as("n_removed"),
        coalesce(col("clean_text"), lit("")).as("clean_text"))
  }

  /** Paragraph-level dedup (the Dolma/CCNet pass between document dedup and
    * substring dedup): every newline-separated paragraph keeps only its
    * FIRST corpus-wide occurrence — ordered by (doc id, position), so the
    * keeper is deterministic — and later occurrences are dropped from their
    * documents' rebuilt text. Paragraphs shorter than `minLen` chars (blank
    * lines, separators) are exempt: deduplicating those would collapse
    * every empty line in the corpus onto one global survivor.
    *
    * Shapes: one shuffle on the paragraph value (the first-occurrence
    * window — WindowGroupLimit-friendly rank-1 filter), one groupBy back on
    * doc id for the rebuild. The paragraph relation is localCheckpointed
    * once (window + totals both consume it). Output:
    * (id, n_paras, n_dropped, clean_text). */
  def paragraphDedup(df: DataFrame, text: Column, id: Column, minLen: Int = 1): DataFrame = {
    import org.apache.spark.sql.expressions.Window
    val p = df.select(id.cast("long").as("id"),
        posexplode(split(text, "\n")).as(Seq("pos", "para")))
      .localCheckpoint()
    val w = Window.partitionBy(col("para")).orderBy(col("id"), col("pos"))
    val kept = p
      .withColumn("rn",
        when(length(col("para")) >= minLen, row_number().over(w)).otherwise(lit(1)))
      .filter(col("rn") === 1)
    val reb = kept.groupBy(col("id"))
      .agg(count(lit(1)).as("kept_n"),
        array_join(transform(array_sort(collect_list(struct(col("pos"), col("para")))),
          x => x("para")), "\n").as("clean_text"))
    p.groupBy(col("id")).agg(count(lit(1)).as("n_paras"))
      .join(reb, Seq("id"), "left")
      .select(col("id"), col("n_paras"),
        (col("n_paras") - coalesce(col("kept_n"), lit(0L))).as("n_dropped"),
        coalesce(col("clean_text"), lit("")).as("clean_text"))
  }

  /** Sorted-neighborhood blocking (Hernandez & Stolfo 1995) — the classic
    * entity-resolution candidate generator that complements the LSH band
    * join ([[minhashCandidates]], [[graft.link.Linker]]): sort all records
    * by a normalized blocking key and emit every pair within a sliding
    * window of `w` positions. Catches near-matches whose keys are LEXICALLY
    * adjacent but hash apart (typos in the tail of the key, prefix-shared
    * names), exactly the pairs minhash banding misses.
    *
    * Output: one row per ordered candidate pair (a before b in the sort),
    * with the positional gap in [1, w-1] and both keys; ties in the key are
    * totally ordered by id so the pair set is deterministic.
    *
    * Scale shape: the sort is ONE range exchange (the same machinery as a
    * sort-merge join); the global rank is assigned by `zipWithIndex`, whose
    * only driver-side cost is the per-partition row-count array (numShuffle-
    * Partitions longs — bounded); the window pairing is an equi-join of the
    * ranked relation with itself on a DENSE long key (rank), which hash-
    * partitions uniformly by construction — no skew regardless of key
    * distribution, and candidate volume is exactly N·(w−1). At 10^12 rows
    * this is one sort + one uniform shuffle; no similarity compare happens
    * here (feed the pairs to [[jaccardVerify]] / the linker's scorer). */
  def sortedNeighborhood(df: DataFrame, key: Column, id: Column, w: Int): DataFrame = {
    require(w >= 2 && w <= 1024, s"window must be in [2,1024]: $w")
    import org.apache.spark.sql.Row
    import org.apache.spark.sql.types.{LongType, StringType, StructField, StructType}
    val spark = df.sparkSession
    val recs = df.select(coalesce(key.cast("string"), lit("")).as("k"),
        id.cast("long").as("id"))
      .repartitionByRange(col("k"), col("id"))
      .sortWithinPartitions(col("k"), col("id"))
    val schema = StructType(Seq(StructField("k", StringType), StructField("id", LongType),
      StructField("rn", LongType)))
    val ranked = spark.createDataFrame(
        recs.rdd.zipWithIndex.map { case (r, i) => Row(r.getString(0), r.getLong(1), i) },
        schema)
      .localCheckpoint()
    val right = ranked.select(col("rn").as("rn2"), col("id").as("b_id"), col("k").as("b_key"))
    ranked.select(col("k").as("a_key"), col("id").as("a_id"), col("rn"),
        explode(sequence(col("rn") + 1L, col("rn") + (w - 1).toLong)).as("rn2"))
      .join(right, "rn2")
      .select(col("a_id"), col("b_id"), (col("rn2") - col("rn")).as("gap"),
        col("a_key"), col("b_key"))
  }

  /** Blocking-quality metrics — the standard entity-resolution evaluation of
    * a candidate generator (LSH bands, sorted neighborhood, …) against a
    * labeled truth set: pair completeness (recall of true pairs into the
    * candidate set), reduction ratio (fraction of the n·(n−1)/2 comparison
    * space the blocker prunes), and the raw counts, in exact integer
    * permille. Blocking eval always runs on a BOUNDED labeled sample — the
    * truth set is n²-shaped by nature, so `universe` is the sample's id
    * relation, never the corpus. Output: one row (n_records, n_candidates,
    * n_truth, true_in_candidates, pair_completeness_permille,
    * reduction_ratio_permille).
    *
    * Plan shape: both pair sets normalize to (least, greatest) and
    * deduplicate; the intersection is one equi-join; the three counts are
    * single-row aggregates cross-joined (1-row broadcast each). Nothing
    * scales past the sample. */
  def blockingQuality(candidates: DataFrame, truth: DataFrame,
      universe: DataFrame): DataFrame = {
    def norm(pairs: DataFrame): DataFrame =
      pairs.select(least(col("a_id"), col("b_id")).as("a_id"),
        greatest(col("a_id"), col("b_id")).as("b_id")).distinct()
    val c = norm(candidates)
    val t = norm(truth)
    val nC = c.agg(count(lit(1)).as("n_candidates"))
    val nT = t.agg(count(lit(1)).as("n_truth"))
    val nHit = c.join(t, Seq("a_id", "b_id"))
      .agg(count(lit(1)).as("true_in_candidates"))
    val nU = universe.agg(count(lit(1)).as("n_records"))
    nU.crossJoin(nC).crossJoin(nT).crossJoin(nHit)
      .select(col("n_records"), col("n_candidates"), col("n_truth"),
        col("true_in_candidates"),
        when(col("n_truth") > 0,
          expr("(1000 * true_in_candidates) div n_truth")).as("pair_completeness_permille"),
        when(col("n_records") > 1, lit(1000L) -
          expr("(1000 * n_candidates) div (n_records * (n_records - 1) div 2)"))
          .as("reduction_ratio_permille"))
  }
}
