package graft.ops

import org.scalatest.funsuite.AnyFunSuite
import graft.SparkTestSession
import graft.exec.Bounded.distributedOnly
import org.apache.spark.sql.functions._

class DedupSpec extends AnyFunSuite with SparkTestSession {

  /** Corpus with planted exact and near duplicates. */
  private def corpus = {
    import spark.implicits._
    val base = (0 until 40).map(i =>
      (i.toLong, s"alpha$i beta gamma$i delta$i epsilon zeta$i eta theta$i iota kappa$i"))
    val exactDups = Seq((100L, base(3)._2), (101L, base(3)._2)) // two copies of doc 3
    val nearDup = Seq((102L,
      "alpha3 beta gamma3 delta3 epsilon zeta3 eta theta3 iota NEARBY")) // 1 token differs from doc 3
    (base ++ exactDups ++ nearDup).toDF("doc_id", "text").repartition(4)
  }

  test("exact dedup finds planted duplicate cluster with canonical min id") {
    val clusters = Dedup.exact(corpus, col("text"), col("doc_id"))
      .filter(col("cnt") > 1).collect()
    assert(clusters.length == 1)
    assert(clusters(0).getLong(1) == 3L && clusters(0).getLong(2) == 3L) // cnt=3? no: 3,100,101
  }

  test("minhash candidates cover exact and near duplicates; jaccard separates them") {
    val sigs = Dedup.minhashSignatures(corpus, col("text"), col("doc_id"),
      bands = 8, shingleW = 2, rowsPerBand = 1)
    val cand = Dedup.minhashCandidates(sigs)
    val verified = Dedup.jaccardVerify(corpus, col("text"), col("doc_id"), cand, shingleW = 2)
      .collect().map(r => (r.getLong(0), r.getLong(1)) -> r.getDouble(2)).toMap
    // exact duplicates: jaccard 1.0
    assert(verified.get((3L, 100L)).contains(1.0))
    assert(verified.get((100L, 101L)).contains(1.0))
    assert(verified.get((3L, 101L)).contains(1.0))
    // near duplicate of doc 3: high but < 1
    val near = verified.get((3L, 102L))
    assert(near.exists(j => j > 0.5 && j < 1.0), s"near-dup jaccard: $near")
  }

  test("clusters: connected components assign canonical min-id representatives") {
    import spark.implicits._
    // components: {1,2,3} via chain, {7,8}, singleton 9 not in pairs
    val pairs = Seq((1L, 2L), (2L, 3L), (7L, 8L)).toDF("a_id", "b_id")
    val c = Dedup.clusters(pairs).collect().map(r => r.getLong(0) -> r.getLong(1)).toMap
    assert(c == Map(1L -> 1L, 2L -> 1L, 3L -> 1L, 7L -> 7L, 8L -> 7L))
  }

  test("clusters: small-graph driver fast path == distributed loop (long and string ids)") {
    import spark.implicits._
    val pairs = Seq((1L, 2L), (2L, 3L), (7L, 8L), (10L, 3L), (11L, 11L)).toDF("a_id", "b_id")
    def rows(df: org.apache.spark.sql.DataFrame) = df.collect().map(_.toSeq).toSet
    assert(rows(Dedup.clusters(pairs)) == rows(distributedOnly(Dedup.clusters(pairs))))
    val sp = Seq(("B.x", "A.y"), ("A.y", "C\u00e9.z"), ("D.q", "D.r"))
      .toDF("a_id", "b_id")
    assert(rows(Dedup.clusters(sp)) == rows(distributedOnly(Dedup.clusters(sp))))
  }

  test("clusters: one Spark action per round — no separate changed-count job (round-3 verdict #1)") {
    // a CHILD session: ExecutionListenerManager is per-session, so actions
    // from concurrently-running suites (which use the parent session) never
    // land in this listener — the assertion observes only this clustering run
    val s2 = spark.newSession()
    import s2.implicits._
    // long chain (diameter 15) forces several propagate rounds
    val pairs = (0L until 15L).map(i => (i, i + 1)).toDF("a_id", "b_id")
    val funcNames = new java.util.concurrent.ConcurrentLinkedQueue[String]()
    val listener = new org.apache.spark.sql.util.QueryExecutionListener {
      override def onSuccess(funcName: String,
          qe: org.apache.spark.sql.execution.QueryExecution, durationNs: Long): Unit =
        funcNames.add(funcName)
      override def onFailure(funcName: String,
          qe: org.apache.spark.sql.execution.QueryExecution, ex: Exception): Unit = ()
    }
    s2.listenerManager.register(listener)
    try {
      // distributedOnly: this test pins the DISTRIBUTED loop's action profile
      val c = distributedOnly(Dedup.clusters(pairs)).collect()
        .map(r => r.getLong(0) -> r.getLong(1)).toMap
      assert(c == (0L to 15L).map(_ -> 0L).toMap)
      // listener events are async: wait until the stream goes quiet
      val deadline = System.nanoTime() + 10000000000L
      var last = -1
      while (funcNames.size() != last && System.nanoTime() < deadline) {
        last = funcNames.size(); Thread.sleep(300)
      }
      val names = scala.jdk.CollectionConverters.IteratorHasAsScala(
        funcNames.iterator()).asScala.toList
      // convergence detection rides the checkpoint action via observe():
      // the old per-round `count()` job must be gone
      assert(!names.contains("count"),
        s"clustering still launches count() actions per round: $names")
      // 2 setup checkpoints + 1 checkpoint per round + the final collect;
      // diameter 15 with pointer halving converges well inside 8 rounds
      assert(names.size <= 11, s"too many actions for a 15-diameter chain: $names")
    } finally s2.listenerManager.unregister(listener)
  }

  test("clusters on planted duplicates: exact dups + near dup share one cluster") {
    val sigs = Dedup.minhashSignatures(corpus, col("text"), col("doc_id"),
      bands = 8, shingleW = 2, rowsPerBand = 1)
    val cand = Dedup.minhashCandidates(sigs)
    val verified = Dedup.jaccardVerify(corpus, col("text"), col("doc_id"), cand, shingleW = 2)
      .filter(col("jaccard") >= 0.6)
    val c = Dedup.clusters(verified).collect().map(r => r.getLong(0) -> r.getLong(1)).toMap
    assert(c(100L) == 3L && c(101L) == 3L && c(102L) == 3L)
  }

  test("bucket-size cap drops degenerate hot buckets, keeps normal candidates") {
    import spark.implicits._
    // 30 identical docs (one degenerate bucket of 30) + one true near-dup pair
    val hot = (0 until 30).map(i => (100L + i, "the same boilerplate text every time"))
    val pair = Seq((1L, "a unique document about spark graphs"),
                   (2L, "a unique document about spark graphs")) // exact dup: guaranteed bucket share
    val df = (hot ++ pair).toDF("doc_id", "text")
    val sigs = Dedup.minhashSignatures(df, col("text"), col("doc_id"), bands = 4, shingleW = 2, rowsPerBand = 2)
    val uncapped = Dedup.minhashCandidates(sigs).count()
    val capped = Dedup.minhashCandidates(sigs, maxBucketSize = 10)
      .collect().map(r => (r.getLong(0), r.getLong(1))).toSet
    assert(uncapped >= 30L * 29 / 2) // the hot clique dominates uncapped
    assert(capped == Set((1L, 2L)))  // cap kills the clique, keeps the real pair
  }

  test("incremental dedup: batch vs corpus signature store, never batch x batch") {
    val corp = corpus.filter(col("doc_id") < 100)  // base docs only
    val batch = corpus.filter(col("doc_id") >= 100) // 100,101 exact dups of 3; 102 near-dup
    val hits = Dedup.incrementalNearDups(corp, batch, col("text"), col("doc_id"),
      bands = 8, shingleW = 2, rowsPerBand = 1, threshold = 0.5)
      .collect().map(r => (r.getLong(0), r.getLong(1)) -> r.getDouble(2)).toMap
    // every batch doc is flagged against corpus doc 3
    assert(hits.get((100L, 3L)).contains(1.0))
    assert(hits.get((101L, 3L)).contains(1.0))
    assert(hits.get((102L, 3L)).exists(j => j > 0.5 && j < 1.0))
    // pairs are batch x corpus ONLY: 100/101/102 are mutual near-dups but the
    // incremental operator must not pair them with each other
    assert(hits.keys.forall { case (b, c) => b >= 100L && c < 100L })
  }

  test("incremental dedup: corpus-side bucket cap drops degenerate store buckets") {
    import spark.implicits._
    val corp = ((0 until 30).map(i => (100L + i, "the same boilerplate text every time")) :+
      (1L, "a unique document about spark graphs")).toDF("doc_id", "text")
    val batch = Seq(
      (1001L, "the same boilerplate text every time"),
      (1002L, "a unique document about spark graphs")).toDF("doc_id", "text")
    def run(cap: Int) = Dedup.incrementalNearDups(corp, batch, col("text"), col("doc_id"),
      bands = 4, shingleW = 2, rowsPerBand = 2, threshold = 0.9, maxBucketSize = cap)
      .select("batch_id", "corpus_id")
      .collect().map(r => (r.getLong(0), r.getLong(1))).toSet
    assert(run(Int.MaxValue).size == 31) // 30 boilerplate hits + the real pair
    assert(run(10) == Set((1002L, 1L))) // cap kills the degenerate store bucket
  }

  test("simhashPairs: chunk banding finds all close pairs; verify bounds hamming") {
    val pairs = Dedup.simhashPairs(corpus, col("text"), col("doc_id"),
      bits = 16, chunks = 4, maxHamming = 3).collect()
      .map(r => (r.getLong(0), r.getLong(1)) -> r.getLong(2)).toMap
    // exact duplicates of doc 3 have identical signatures: hamming 0
    assert(pairs.get((3L, 100L)).contains(0L))
    assert(pairs.get((3L, 101L)).contains(0L))
    assert(pairs.get((100L, 101L)).contains(0L))
    // every emitted pair respects the verify bound and the a<b convention
    assert(pairs.forall { case ((a, b), h) => a < b && h <= 3 })
    // brute-force cross-check on this small corpus: banding at
    // maxHamming <= chunks-1 is LOSSLESS (pigeonhole) — no close pair missed
    val sigs = Dedup.simhash(corpus, col("text"), col("doc_id"), bits = 16)
      .collect().map(r => r.getLong(0) -> r.getString(1)).toMap
    val brute = (for {
      (ia, sa) <- sigs; (ib, sb) <- sigs if ia < ib
      h = sa.zip(sb).count { case (x, y) => x != y } if h <= 3
    } yield (ia, ib) -> h.toLong).toMap
    assert(pairs == brute, s"banding missed ${brute.keySet -- pairs.keySet}")
  }

  test("simhash width > 32: high bits use upper nibble bits, not a repeat of the low bits") {
    val sigs = Dedup.simhash(corpus, col("text"), col("doc_id"), bits = 64)
      .collect().map(_.getString(1))
    assert(sigs.forall(_.length == 64))
    // bits 33..64 derive from nibble bit 1 (not bit 0): if the shift were
    // broken they would equal bits 1..32 for every doc
    assert(sigs.exists(s => s.substring(0, 32) != s.substring(32, 64)))
    intercept[IllegalArgumentException] {
      Dedup.simhash(corpus, col("text"), col("doc_id"), bits = 129)
    }
  }

  test("simhash: native codegen kernel is bit-identical to the declarative HOF form") {
    import spark.implicits._
    // corpus plus edge cases: empty text (single "" token after split),
    // whitespace-only, and a null text (declarative yields an all-zero
    // signature via the null fold — the native path must match)
    val edge = Seq((200L, ""), (201L, "   "), (202L, null.asInstanceOf[String]))
      .toDF("doc_id", "text")
    val all = corpus.unionByName(edge)
    for (bits <- Seq(16, 64, 128)) {
      val native = Dedup.simhash(all, col("text"), col("doc_id"), bits)
        .collect().map(r => r.getLong(0) -> r.getString(1)).toMap
      val decl = Dedup.simhashDeclarative(all, col("text"), col("doc_id"), bits)
        .collect().map(r => r.getLong(0) -> r.getString(1)).toMap
      assert(native == decl, s"bits=$bits: native != declarative")
      assert(native(202L) == "0" * bits)
    }
  }

  test("simhashPairs: parameter guards fail fast") {
    intercept[IllegalArgumentException] {
      Dedup.simhashPairs(corpus, col("text"), col("doc_id"), bits = 16, chunks = 5)
    }
    intercept[IllegalArgumentException] { // lossy banding rejected
      Dedup.simhashPairs(corpus, col("text"), col("doc_id"),
        bits = 16, chunks = 4, maxHamming = 4)
    }
  }

  test("semanticKeepOne: planted embedding near-dups collapse to min-id representative") {
    import spark.implicits._
    // deterministic unit-ish vectors in 8d: base vectors far apart, each with
    // a tiny-perturbation twin at id+100 (cosine ~ 1), plus one loner
    def v(seed: Int): Seq[Double] =
      (0 until 8).map(j => math.sin(seed * 7 + j * 3 + 1).abs + 0.1)
    val rows =
      (0 until 5).map(i => (i.toLong, v(i))) ++
      (0 until 5).map(i => (i + 100L, v(i).updated(0, v(i).head + 1e-4))) :+
      (999L, Seq.fill(8)(0.0).updated(7, 5.0))
    val df = rows.toDF("vec_id", "e")
    val kept = Dedup.semanticKeepOne(df, col("vec_id"), col("e"),
      threshold = 0.999, dim = 8).collect().map(_.getLong(0)).toSet
    // each twin pair keeps the min id; the loner survives
    assert(kept.contains(999L))
    assert((0 until 5).forall(i => kept.contains(i.toLong) && !kept.contains(i + 100L)),
      s"kept=$kept")
  }

  test("ngramOverlap: planted contamination found; boilerplate grams capped away") {
    import spark.implicits._
    val eval_ = Seq((1000L, "the quick brown fox jumps over the lazy dog tonight"))
    val corpus = Seq(
      (1L, "intro text then the quick brown fox jumps over the lazy dog tonight and more"),
      (2L, "completely unrelated content about spark execution plans and shuffles here"),
      (3L, "the quick brown fox appears but the rest differs a lot from the probe"))
    val c = corpus.toDF("doc_id", "text"); val p = eval_.toDF("doc_id", "text")
    val hits = Dedup.ngramOverlap(c, p, col("text"), col("doc_id"), n = 5, minShared = 3)
      .collect().map(r => (r.getLong(0), r.getLong(1), r.getLong(2)))
    assert(hits.map(h => (h._1, h._2)).toSeq == Seq((1L, 1000L)))
    assert(hits.head._3 >= 5) // long contiguous overlap = many shared 5-grams
    // boilerplate capping: a gram present in EVERY corpus doc is dropped
    val boiler = (1 to 20).map(i => (i.toLong, s"standard footer text appears here always plus unique$i"))
      .toDF("doc_id", "text")
    val probes2 = Seq((999L, "standard footer text appears here always plus nothing")).toDF("doc_id", "text")
    val uncapped = Dedup.ngramOverlap(boiler, probes2, col("text"), col("doc_id"), n = 5).count()
    val capped = Dedup.ngramOverlap(boiler, probes2, col("text"), col("doc_id"), n = 5,
      maxPostings = 5).count()
    assert(uncapped == 20 && capped == 0)
  }

  test("simhash: identical texts identical signatures; near-dup differs in few bits") {
    val sh = Dedup.simhash(corpus, col("text"), col("doc_id"), bits = 32)
      .collect().map(r => r.getLong(0) -> r.getString(1)).toMap
    assert(sh(3L) == sh(100L) && sh(100L) == sh(101L))
    val hamming = sh(3L).zip(sh(102L)).count { case (a, b) => a != b }
    assert(hamming < 10, s"near-dup hamming distance $hamming")
    val far = sh(3L).zip(sh(20L)).count { case (a, b) => a != b }
    assert(far >= hamming)
  }

  test("keepBest: highest score survives per cluster, ties by min id, unpaired untouched") {
    import spark.implicits._
    // cluster {1,2,3} with scores 5,9,9 -> 2 (score 9, min id among ties);
    // cluster {10,11} with equal scores -> 10; loner 99 survives
    val docs = Seq((1L, 5L), (2L, 9L), (3L, 9L), (10L, 4L), (11L, 4L), (99L, 1L))
      .toDF("id", "score")
    val pairs = Seq((1L, 2L), (2L, 3L), (10L, 11L)).toDF("a_id", "b_id")
    val kept = Dedup.keepBest(docs, col("id"), col("score"), pairs)
      .collect().map(_.getLong(0)).toSet
    assert(kept == Set(2L, 10L, 99L), s"kept=$kept")
  }

  private def spanCorpus = {
    import spark.implicits._
    Seq(
      (0L, "a b c d e x y z"),             // keeper of "a b c d e"
      (1L, "p q a b c d e r"),             // loses the shared passage -> "p q r"
      (2L, "unique tokens only here none"),// untouched
      (3L, "m n o p q m n o p q"),         // within-doc repeat only: NOT a dup
      (4L, "tiny doc"),                    // shorter than w: passes whole
      (5L, "a b c d e"),                   // fully covered -> empty
      (6L, "a b c d e x tail7 tail8")      // overlapping dup grams union to 6 positions
    ).toDF("doc_id", "text").repartition(5)
  }

  test("spanDedup: duplicated passages removed everywhere but the min-id keeper") {
    val got = Dedup.spanDedup(spanCorpus, col("text"), col("doc_id"), w = 5)
      .collect().map(r => r.getLong(0) -> ((r.getString(1), r.getLong(2)))).toMap
    assert(got(0L) == (("a b c d e x y z", 0L)))          // keeper keeps its text
    assert(got(1L) == (("p q r", 5L)))                    // one occurrence, 5 tokens gone
    assert(got(2L) == (("unique tokens only here none", 0L)))
    assert(got(3L) == (("m n o p q m n o p q", 0L)))      // single-doc repeats survive
    assert(got(4L) == (("tiny doc", 0L)))                 // < w tokens: whole
    assert(got(5L) == (("", 5L)))                         // fully duplicated doc empties
    // d6 shares "a b c d e" AND "b c d e x" with d0: coverage unions to 6 positions
    assert(got(6L) == (("tail7 tail8", 6L)))
  }

  test("boilerplateRemove: frequent lines vanish from ALL docs of the group; small groups exempt") {
    import spark.implicits._
    val footer = "cookie banner accept all"
    // host A: 5 docs, footer in 3/5 (>= 50%); host B: 2 docs (< minDocs) with a shared line
    val docs = (
      (0 until 3).map(i => (i.toLong, s"unique body $i\n$footer", "hostA")) ++
        Seq((3L, "unique body three", "hostA"), (4L, "unique body four", "hostA")) ++
        Seq((10L, "shared b line\nown b0", "hostB"), (11L, "shared b line\nown b1", "hostB")))
      .toDF("doc_id", "text", "source")
    val got = Dedup.boilerplateRemove(docs, col("text"), col("doc_id"), col("source"))
      .collect().map(r => r.getLong(0) -> ((r.getLong(1), r.getLong(2), r.getString(3)))).toMap
    (0 until 3).foreach(i =>
      assert(got(i.toLong) == ((2L, 1L, s"unique body $i")), s"doc $i: ${got(i.toLong)}"))
    assert(got(3L) == ((1L, 0L, "unique body three")))
    // hostB is under minDocs: its shared line survives
    assert(got(10L) == ((2L, 0L, "shared b line\nown b0")))
    assert(got(11L) == ((2L, 0L, "shared b line\nown b1")))
  }

  test("paragraphDedup: first corpus occurrence survives, blank lines exempt, rebuild ordered") {
    import spark.implicits._
    val docs = Seq(
      (0L, "shared boilerplate footer\nunique alpha"),
      (1L, "unique beta\n\nshared boilerplate footer\nunique gamma"),
      (2L, "shared boilerplate footer\nshared boilerplate footer"), // in-doc repeat also drops
      (3L, "\n\n")) // only blanks — all exempt, nothing dropped
      .toDF("doc_id", "text")
    val got = Dedup.paragraphDedup(docs, col("text"), col("doc_id"))
      .collect().map(r => r.getLong(0) -> ((r.getLong(1), r.getLong(2), r.getString(3)))).toMap
    assert(got(0L) == ((2L, 0L, "shared boilerplate footer\nunique alpha")))
    assert(got(1L) == ((4L, 1L, "unique beta\n\nunique gamma"))) // blank line kept, dup dropped
    assert(got(2L) == ((2L, 2L, "")))
    assert(got(3L) == ((3L, 0L, "\n\n")))
    // partition invariance
    val again = Dedup.paragraphDedup(docs.repartition(5), col("text"), col("doc_id"))
      .collect().map(r => r.getLong(0) -> ((r.getLong(1), r.getLong(2), r.getString(3)))).toMap
    assert(again == got)
  }

  test("containmentVerify: embedded short doc scores containment 1.0, low jaccard") {
    import spark.implicits._
    val short = "alpha beta gamma delta epsilon zeta"
    val long = short + " " + (1 to 30).map(i => s"filler$i").mkString(" ")
    val docs = Seq((1L, short), (2L, long)).toDF("doc_id", "text")
    val cand = Seq((1L, 2L)).toDF("a_id", "b_id")
    val row = Dedup.containmentVerify(docs, col("text"), col("doc_id"), cand, shingleW = 2)
      .collect()(0)
    val (inter, sa, sb) = (row.getLong(2), row.getLong(3), row.getLong(4))
    assert(inter == sa)                       // every short-doc shingle is in the long doc
    assert(row.getDouble(5) == 1.0)           // containment_a
    assert(row.getDouble(6) == inter.toDouble / sb)
    // the same pair under jaccard scores well below the usual 0.5 bar
    val j = Dedup.jaccardVerify(docs, col("text"), col("doc_id"), cand, shingleW = 2)
      .collect()(0).getDouble(2)
    assert(j < 0.2, s"jaccard $j should miss the subset duplicate")
  }

  test("spanDedup: partition-invariant and keeper-stable") {
    val a = Dedup.spanDedup(spanCorpus, col("text"), col("doc_id"), w = 5)
      .collect().map(r => (r.getLong(0), r.getString(1), r.getLong(2))).toSet
    val b = Dedup.spanDedup(spanCorpus.repartition(1), col("text"), col("doc_id"), w = 5)
      .collect().map(r => (r.getLong(0), r.getString(1), r.getLong(2))).toSet
    assert(a == b)
  }

  test("blockingQuality: hand-derived PC and RR on a 5-record universe") {
    import spark.implicits._
    // universe of 5 -> 10 possible pairs; truth {1-2, 3-4}; candidates
    // {2-1 (reversed dup), 1-3} -> 2 distinct candidates, 1 true hit
    val universe = Seq(1L, 2L, 3L, 4L, 5L).toDF("doc_id")
    val truth = Seq((1L, 2L), (3L, 4L)).toDF("a_id", "b_id")
    val cand = Seq((2L, 1L), (1L, 2L), (1L, 3L)).toDF("a_id", "b_id")
    val r = Dedup.blockingQuality(cand, truth, universe).collect().head
    assert(r.getLong(0) == 5L && r.getLong(1) == 2L && r.getLong(2) == 2L)
    assert(r.getLong(3) == 1L)          // only 1-2 is a true candidate
    assert(r.getLong(4) == 500L)        // PC = 1/2
    assert(r.getLong(5) == 800L)        // RR = 1 - 2/10
  }

  test("blockingQuality: empty truth yields null completeness, not a crash") {
    import spark.implicits._
    val r = Dedup.blockingQuality(
      Seq((1L, 2L)).toDF("a_id", "b_id"),
      Seq.empty[(Long, Long)].toDF("a_id", "b_id"),
      Seq(1L, 2L, 3L).toDF("doc_id")).collect().head
    assert(r.getLong(2) == 0L && r.isNullAt(4))
    assert(r.getLong(5) == 1000L - 333L)
  }
}
