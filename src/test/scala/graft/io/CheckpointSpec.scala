package graft.io

import org.scalatest.funsuite.AnyFunSuite
import graft.SparkTestSession
import graft.gen.PageGen
import graft.kg.{KgPipeline, LexiconScorer}
import org.apache.spark.sql.DataFrame

class CheckpointSpec extends AnyFunSuite with SparkTestSession {

  private def triplesTransform(df: DataFrame): DataFrame = {
    import spark.implicits._
    val cfg = KgPipeline.Config()
    val pages = df.as[graft.core.Page]
    KgPipeline.triples(
      KgPipeline.samples(KgPipeline.parsePages(pages, graft.ner.BracketNer, cfg), cfg),
      LexiconScorer()).toDF()
  }

  private def tmp() = java.nio.file.Files.createTempDirectory("ckpt").toString

  test("resume: partial run + resume == single full run; lineage complete; no-op when done") {
    import spark.implicits._
    val pages = PageGen.pages(50, 11L, 4).toDF()
    val n = 8

    // full run in one shot
    val full = tmp()
    val r0 = Checkpoint.runResumable(pages, "url", "docId", n, full)(triplesTransform)
    assert(r0.processedBuckets.size == n && r0.skippedBuckets == 0)
    // row metrics must come from the single write pass (observe), not a re-scan
    assert(r0.rowCountSource == "observed")
    assert(r0.rowsWritten == Checkpoint.result(spark, full).count())

    // partial (3 buckets) then resume (rest)
    val part = tmp()
    val r1 = Checkpoint.runResumable(pages, "url", "docId", n, part, maxBuckets = 3)(triplesTransform)
    assert(r1.processedBuckets.size == 3)
    val midRows = Checkpoint.result(spark, part).count()
    assert(midRows < Checkpoint.result(spark, full).count())
    val r2 = Checkpoint.runResumable(pages, "url", "docId", n, part)(triplesTransform)
    assert(r2.processedBuckets.size == n - 3 && r2.skippedBuckets == 3)

    // identical result sets
    def rows(p: String) = Checkpoint.result(spark, p)
      .drop(Checkpoint.BucketCol).collect().map(_.toString).sorted.toSeq
    assert(rows(part) == rows(full))

    // lineage: every bucket exactly once, counts sum to total rows
    val lin = Checkpoint.lineage(spark, part).collect()
    assert(lin.map(_.getLong(0)).sorted.toSeq == (0L until n.toLong))
    assert(lin.map(_.getLong(1)).sum == rows(part).size.toLong)

    // complete -> no-op
    val r3 = Checkpoint.runResumable(pages, "url", "docId", n, part)(triplesTransform)
    assert(r3.isComplete && r3.skippedBuckets == n)
  }

  test("fused kernel under checkpointing at scale-up size: interrupted chunks resume to single-run equality") {
    import spark.implicits._
    // round-3 verdict #9: --fused composes with --checkpoint; exercise the
    // composition at a larger page count than the basic resume case, with
    // the run split across three partial invocations (the crash/kill shape:
    // each invocation only records fully-written buckets in lineage)
    val pages = PageGen.pages(3000, 97L, 64, sentsMin = 10, sentsMax = 25).toDF()
    val n = 16
    val cfg = KgPipeline.Config(sampler =
      graft.kg.Sampler.Config(renderText = false))
    def fusedTransform(df: DataFrame): DataFrame =
      KgPipeline.triplesFused(df.as[graft.core.Page], cfg, LexiconScorer()).toDF()

    val full = tmp()
    Checkpoint.runResumable(pages, "url", "docId", n, full)(fusedTransform)
    val chunked = tmp()
    val r1 = Checkpoint.runResumable(pages, "url", "docId", n, chunked, maxBuckets = 5)(fusedTransform)
    val r2 = Checkpoint.runResumable(pages, "url", "docId", n, chunked, maxBuckets = 7)(fusedTransform)
    val r3 = Checkpoint.runResumable(pages, "url", "docId", n, chunked)(fusedTransform)
    assert(r1.processedBuckets.size == 5 && r2.processedBuckets.size == 7 &&
      r3.processedBuckets.size == 4)
    assert(r3.skippedBuckets == 12)

    def tset(p: String) = Checkpoint.result(spark, p)
      .select("docId", "subj", "subjType", "pred", "obj", "objType")
      .collect().map(_.toString).sorted.toSeq
    assert(tset(chunked) == tset(full))
    // and the checkpointed output equals the plain unchunked fused pipeline
    val direct = fusedTransform(pages)
      .select("docId", "subj", "subjType", "pred", "obj", "objType")
      .collect().map(_.toString).sorted.toSeq
    assert(tset(full) == direct)
  }

  test("crash between data write and lineage append stays exactly-once (partition overwrite)") {
    import spark.implicits._
    val pages = PageGen.pages(30, 13L, 4).toDF()
    val n = 4
    val p = tmp()
    // simulate: data written for ALL buckets but lineage only for bucket 0
    Checkpoint.runResumable(pages, "url", "docId", n, p)(triplesTransform)
    val fullRows = Checkpoint.result(spark, p).count()
    // wipe lineage, pretend only bucket 0 completed
    val linDir = new java.io.File(s"$p/_lineage")
    linDir.listFiles().foreach(_.delete())
    Seq((0L, 0L, 0L, n.toLong)).toDF("bucket", "rows", "wall_ms", "n_buckets")
      .write.mode("overwrite").parquet(s"$p/_lineage")
    // resume: buckets 1..3 re-processed; their partitions REPLACED, not appended
    val r = Checkpoint.runResumable(pages, "url", "docId", n, p)(triplesTransform)
    assert(r.processedBuckets == (1L until n.toLong))
    assert(Checkpoint.result(spark, p).count() == fullRows)
  }

  test("resume with a different nBuckets fails fast (bucket ids incompatible)") {
    import spark.implicits._
    val pages = PageGen.pages(10, 17L, 2).toDF()
    val p = tmp()
    Checkpoint.runResumable(pages, "url", "docId", 4, p, maxBuckets = 2)(triplesTransform)
    val e = intercept[IllegalArgumentException] {
      Checkpoint.runResumable(pages, "url", "docId", 8, p)(triplesTransform)
    }
    assert(e.getMessage.contains("n_buckets"))
  }

  test("zero-output buckets complete with rows=0 (observe over empty write must not NPE)") {
    import spark.implicits._
    val rows = Seq(("a", 1), ("b", 2)).toDF("url", "v")
    val p = tmp()
    // transform drops every row — all buckets complete with 0 rows
    val r = Checkpoint.runResumable(rows, "url", "url", 4, p)(
      df => df.filter(org.apache.spark.sql.functions.lit(false)))
    assert(r.rowsWritten == 0 && r.processedBuckets.size == 4)
    assert(Checkpoint.lineage(spark, p).select("rows").collect().forall(_.getLong(0) == 0L))
    assert(Checkpoint.runResumable(rows, "url", "url", 4, p)(df => df).isComplete)
  }

  test("pre-upgrade lineage (no n_buckets column) fails fast instead of silently restarting") {
    import spark.implicits._
    val p = tmp()
    Seq((0L, 5L, 10L)).toDF("bucket", "rows", "wall_ms")
      .write.mode("overwrite").parquet(s"$p/_lineage")
    val e = intercept[IllegalArgumentException] {
      Checkpoint.runResumable(Seq(("a", 1)).toDF("url", "v"), "url", "url", 4, p)(df => df)
    }
    assert(e.getMessage.contains("n_buckets"))
  }

  test("null urls are bucketed deterministically and processed (not silently skipped)") {
    import spark.implicits._
    val rows = Seq(("a", 1), (null: String, 2), (null: String, 3)).toDF("url", "v")
    val p = tmp()
    val r = Checkpoint.runResumable(rows, "url", "url", 4, p)(df => df)
    assert(r.rowsWritten == 3)
    assert(Checkpoint.result(spark, p).count() == 3)
    // complete -> no-op (null rows were recorded, not perpetually pending)
    assert(Checkpoint.runResumable(rows, "url", "url", 4, p)(df => df).isComplete)
  }

  test("a lineage dir holding only a killed append's _temporary/ is a fresh start") {
    import spark.implicits._
    val p = tmp()
    java.nio.file.Files.createDirectories(java.nio.file.Paths.get(p, "_lineage", "_temporary", "0"))
    val rows = Seq(("a", 1), ("b", 2)).toDF("url", "v")
    val r = Checkpoint.runResumable(rows, "url", "url", 4, p)(df => df)
    assert(r.processedBuckets.size == 4 && r.skippedBuckets == 0)
    assert(Checkpoint.runResumable(rows, "url", "url", 4, p)(df => df).isComplete)
  }

  test("an unreadable lineage file raises instead of re-running every bucket") {
    import spark.implicits._
    val p = tmp()
    val lin = java.nio.file.Paths.get(p, "_lineage")
    java.nio.file.Files.createDirectories(lin)
    java.nio.file.Files.write(lin.resolve("part-0.parquet"), "junk".getBytes("UTF-8"))
    intercept[Exception] {
      Checkpoint.runResumable(Seq(("a", 1)).toDF("url", "v"), "url", "url", 4, p)(df => df)
    }
    assert(!java.nio.file.Files.exists(java.nio.file.Paths.get(p, "data")))
  }
}
