package graft.ops

import org.scalatest.funsuite.AnyFunSuite
import graft.SparkTestSession
import org.apache.spark.sql.functions._

class SigStoreSpec extends AnyFunSuite with SparkTestSession {

  private def tmp(): String =
    java.nio.file.Files.createTempDirectory("graft-sigstore").toString

  private def df(rows: (Long, String)*) = {
    import spark.implicits._
    rows.toDF("doc_id", "text")
  }

  private val p = SigStore.Params(bands = 8, shingleW = 2, rowsPerBand = 1)

  test("append + filterNew: exact and near duplicates of the corpus are dropped") {
    val store = tmp()
    SigStore.append(
      df(1L -> "alpha beta gamma delta epsilon zeta eta theta iota kappa",
         2L -> "one two three four five six seven eight nine ten"),
      col("text"), col("doc_id"), store, p)
    val batch = df(
      10L -> "alpha beta gamma delta epsilon zeta eta theta iota kappa", // exact dup of 1
      11L -> "one two three four five six seven eight nine NEARBY",      // near dup of 2
      12L -> "completely different words about spark catalyst planning")
    val kept = SigStore.filterNew(batch, col("text"), col("doc_id"), store, p)
      .select("doc_id").collect().map(_.getLong(0)).toSet
    assert(kept == Set(12L), s"kept $kept")
  }

  test("the store accretes: a second append extends the dedup horizon") {
    val store = tmp()
    SigStore.append(df(1L -> "first era document about graphs"),
      col("text"), col("doc_id"), store, p)
    val b1 = df(20L -> "totally disjoint vocabulary with streaming pipeline words")
    assert(SigStore.filterNew(b1, col("text"), col("doc_id"), store, p).count() == 1)
    SigStore.append(b1, col("text"), col("doc_id"), store, p)
    // a doc duplicating the SECOND batch is now caught too
    val b2 = df(30L -> "second era document about streams")
    assert(SigStore.filterNew(b2, col("text"), col("doc_id"), store, p).count() == 0)
  }

  test("parameter pinning: probe or append with different LSH params fails fast") {
    val store = tmp()
    SigStore.append(df(1L -> "pinned parameters document"), col("text"), col("doc_id"), store, p)
    val other = SigStore.Params(bands = 4, shingleW = 3, rowsPerBand = 2)
    val e1 = intercept[IllegalArgumentException] {
      SigStore.append(df(2L -> "x y z"), col("text"), col("doc_id"), store, other)
    }
    assert(e1.getMessage.contains("mixed LSH parameters"))
    intercept[IllegalArgumentException] {
      SigStore.filterNew(df(3L -> "a b c"), col("text"), col("doc_id"), store, other).count()
    }
  }

  test("minBands > 1 requires multiple shared band buckets (precision knob)") {
    val store = tmp()
    SigStore.append(
      df(1L -> "one two three four five six seven eight nine ten"),
      col("text"), col("doc_id"), store, p)
    // near-superset doc (one appended token): J = 9/10, so at least one of 8
    // bands sharing its min-shingle is a 1 - 0.1^8 certainty under ANY hash
    // family — a deterministic lax-drop case
    val near = df(40L -> "one two three four five six seven eight nine ten EXTRA")
    def kept(b: org.apache.spark.sql.DataFrame, mb: Int) =
      SigStore.filterNew(b, col("text"), col("doc_id"), store, p, minBands = mb)
        .select("doc_id").collect().map(_.getLong(0)).toSet
    assert(kept(near, 1) == Set.empty[Long], "minBands=1 must flag the near-superset doc")
    // monotone: raising minBands only ever KEEPS more (drops fewer)
    val half = df(41L -> "one two three four five HELLO WORLD FOO BAR BAZ")
    val byBands = (1 to 9).map(mb => kept(half, mb))
    byBands.sliding(2).foreach { case Seq(lo, hi) => assert(lo.subsetOf(hi), s"$lo !~ $hi") }
    // more shared bands than exist is an impossible bar: everything survives
    assert(kept(near, p.bands + 1) == Set(40L))
  }

  test("maxBucketSize caps degenerate store buckets on the probe side") {
    val store = tmp()
    SigStore.append(
      df(((0 until 30).map(i => (100L + i, "the same boilerplate text every time")) :+
        (1L, "a unique document about spark graphs")): _*),
      col("text"), col("doc_id"), store, p)
    val batch = df(
      1001L -> "the same boilerplate text every time",
      1002L -> "a unique document about spark graphs")
    // exact-hash probe catches both regardless; perturb texts so only the
    // NEAR path can match
    val nearBatch = df(
      1001L -> "the same boilerplate text every time PLUS",
      1002L -> "a unique document about spark graphs PLUS")
    val uncapped = SigStore.filterNew(nearBatch, col("text"), col("doc_id"), store, p)
      .select("doc_id").collect().map(_.getLong(0)).toSet
    val capped = SigStore.filterNew(nearBatch, col("text"), col("doc_id"), store, p,
      maxBucketSize = 10)
      .select("doc_id").collect().map(_.getLong(0)).toSet
    assert(uncapped == Set.empty[Long], s"uncapped kept $uncapped")
    assert(capped == Set(1001L), s"capped kept $capped") // boilerplate bucket dropped
    assert(batch.count() == 2) // (silence unused warning; exact path covered above)
  }

  test("compact: probe results identical pre/post; file-sets fold into the bucketed layout") {
    val store = tmp()
    // five appends = five parquet file-sets per relation (the small-files shape)
    for (b <- 0 until 5)
      SigStore.append(
        df((0 until 4).map(i =>
          (b * 10L + i, s"batch $b doc $i alpha beta gamma delta epsilon$i zeta")): _*),
        col("text"), col("doc_id"), store, p)
    val batch = df(
      900L -> "batch 2 doc 1 alpha beta gamma delta epsilon1 zeta",  // exact dup
      901L -> "batch 4 doc 3 alpha beta gamma delta epsilon3 NEAR",  // near dup
      902L -> "entirely novel content about catalyst optimizer rules")
    val pre = SigStore.filterNew(batch, col("text"), col("doc_id"), store, p)
      .select("doc_id").collect().map(_.getLong(0)).toSet

    def files(rel: String) = new java.io.File(s"$store/$rel").listFiles()
      .count(_.getName.endsWith(".parquet"))
    val sigFilesBefore = files("sigs")
    SigStore.compact(spark, store, partitions = 2)
    assert(files("sigs") == 2 && files("hashes") == 2,
      s"expected 2 files per relation, got sigs=${files("sigs")} hashes=${files("hashes")}")
    assert(sigFilesBefore > 2, s"test setup should accumulate file-sets: $sigFilesBefore")

    val post = SigStore.filterNew(batch, col("text"), col("doc_id"), store, p)
      .select("doc_id").collect().map(_.getLong(0)).toSet
    assert(post == pre, s"probe changed across compaction: pre=$pre post=$post")
    assert(pre == Set(902L))

    // appends keep working on the compacted layout
    SigStore.append(df(902L -> "entirely novel content about catalyst optimizer rules"),
      col("text"), col("doc_id"), store, p)
    val again = SigStore.filterNew(batch, col("text"), col("doc_id"), store, p)
      .select("doc_id").collect().map(_.getLong(0)).toSet
    assert(again == Set.empty[Long])
  }

  test("compact heals a crash between the swap renames (live dir missing, backup present)") {
    val store = tmp()
    SigStore.append(
      df(1L -> "alpha beta gamma delta epsilon zeta eta theta iota kappa",
         2L -> "one two three four five six seven eight nine ten"),
      col("text"), col("doc_id"), store, p)
    val batch = df(10L -> "alpha beta gamma delta epsilon zeta eta theta iota kappa",
                   11L -> "fresh unrelated words about adaptive query execution")
    val before = SigStore.filterNew(batch, col("text"), col("doc_id"), store, p)
      .select("doc_id").collect().map(_.getLong(0)).toSet
    // simulate the kill window: old sigs moved to backup, new layout never
    // landed — the live dir is missing
    val sigs = java.nio.file.Paths.get(s"$store/sigs")
    java.nio.file.Files.move(sigs, java.nio.file.Paths.get(s"$store/sigs.compact-bak"))
    assert(!java.nio.file.Files.exists(sigs))
    SigStore.compact(spark, store, partitions = 1) // must roll back, then compact
    val after = SigStore.filterNew(batch, col("text"), col("doc_id"), store, p)
      .select("doc_id").collect().map(_.getLong(0)).toSet
    assert(after == before && before == Set(11L), s"before=$before after=$after")
  }

  test("compact with retention: retired ids stop suppressing future ingests") {
    import spark.implicits._
    val store = tmp()
    SigStore.append(
      df(1L -> "alpha beta gamma delta epsilon zeta eta theta iota kappa",
         2L -> "one two three four five six seven eight nine ten"),
      col("text"), col("doc_id"), store, p)
    val batch = df(
      10L -> "alpha beta gamma delta epsilon zeta eta theta iota kappa",
      11L -> "one two three four five six seven eight nine ten")
    assert(SigStore.filterNew(batch, col("text"), col("doc_id"), store, p).count() == 0)
    // retire doc 1: its exact AND near suppression must disappear
    SigStore.compact(spark, store, partitions = 1,
      dropIds = Some(Seq(1L).toDF("id")))
    val kept = SigStore.filterNew(batch, col("text"), col("doc_id"), store, p)
      .select("doc_id").collect().map(_.getLong(0)).toSet
    assert(kept == Set(10L), s"kept $kept")
  }

  /** A store of docs 1 and 2, a probe batch (an exact dup of 1, a near dup
    * of 2, a fresh doc) and the crash of compact's kill window: sigs moved
    * to its backup, the new layout lost. */
  private def crashedStore(): (String, () => Set[Long]) = {
    val store = tmp()
    SigStore.append(
      df(1L -> "alpha beta gamma delta epsilon zeta eta theta iota kappa",
         2L -> "one two three four five six seven eight nine ten"),
      col("text"), col("doc_id"), store, p)
    val batch = df(
      10L -> "alpha beta gamma delta epsilon zeta eta theta iota kappa",
      11L -> "one two three four five six seven eight nine NEARBY",
      12L -> "completely different words about spark catalyst planning")
    def kept() = SigStore.filterNew(batch, col("text"), col("doc_id"), store, p)
      .select("doc_id").collect().map(_.getLong(0)).toSet
    assert(kept() == Set(12L))
    java.nio.file.Files.move(java.nio.file.Paths.get(s"$store/sigs"),
      java.nio.file.Paths.get(s"$store/sigs.compact-bak"))
    (store, () => kept())
  }

  test("filterNew heals a crash between compact's renames") {
    val (_, kept) = crashedStore()
    assert(kept() == Set(12L))
  }

  test("append then compact after a crash between compact's renames keeps the pre-crash signatures") {
    val (store, kept) = crashedStore()
    SigStore.append(df(3L -> "zebra yak xylophone walrus vulture umbrella tiger"),
      col("text"), col("doc_id"), store, p)
    SigStore.compact(spark, store, partitions = 1)
    assert(kept() == Set(12L))
  }
}
