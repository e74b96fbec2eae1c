package graft.io

import org.scalatest.funsuite.AnyFunSuite
import graft.SparkTestSession
import graft.gen.PageGen
import graft.kg.{KgPipeline, LexiconScorer}
import graft.link.Linker
import org.apache.spark.sql.DataFrame

/** Regression for the round-2 ADVICE medium finding: `--link lsh` combined
  * with checkpointing must produce the SAME triples per url whether the run
  * is a single full pass, chunked by maxBuckets, or crash-resumed — i.e. the
  * LSH dictionary may not be computed over only the buckets co-resident in
  * one run. The fix (cli.Infer): compute the dictionary ONCE over the full
  * page set (Linker.lshBroadcastDictionary) and probe it map-side inside
  * every bucket transform. */
class CheckpointLinkSpec extends AnyFunSuite with SparkTestSession with graft.BothPaths {

  private def tmp() = java.nio.file.Files.createTempDirectory("ckpt-link").toString

  bothPaths("chunked lsh-linked runs match a single full run (dictionary over FULL set)") {
    import spark.implicits._
    val pages = PageGen.pages(60, 13L, 4)
    val cfg = KgPipeline.Config()
    // the deterministic-per-url link stage: full-corpus dictionary, map-side probe
    val dict = Linker.lshBroadcastDictionary(
      KgPipeline.parsePages(pages, graft.ner.BracketNer, cfg))
    def transform(df: DataFrame): DataFrame = {
      val pd = Linker.withDictionary(
        KgPipeline.parsePages(df.as[graft.core.Page], graft.ner.BracketNer, cfg), dict)
      KgPipeline.triples(KgPipeline.samples(pd, cfg), LexiconScorer()).toDF()
    }
    val n = 8
    val full = tmp()
    Checkpoint.runResumable(pages.toDF(), "url", "docId", n, full)(transform)
    val chunked = tmp()
    var report = Checkpoint.runResumable(pages.toDF(), "url", "docId", n, chunked,
      maxBuckets = 1)(transform)
    while (!report.isComplete)
      report = Checkpoint.runResumable(pages.toDF(), "url", "docId", n, chunked,
        maxBuckets = 1)(transform)
    def rows(p: String) = Checkpoint.result(spark, p)
      .drop(Checkpoint.BucketCol).collect().map(_.toString).sorted.toSeq
    assert(rows(chunked) == rows(full))
    assert(rows(full).nonEmpty)
  }

  bothPaths("lshBroadcastDictionary holds only non-trivial entries and fails fast above the cap") {
    import spark.implicits._
    import graft.core.{Mention, ParsedDoc, Sentence}
    def doc(url: String, value: String) =
      ParsedDoc(url, "en", Seq(Sentence(0, value.split(" ").toSeq,
        Seq(Mention(0, 0, value, "ORG", 0L, Linker.hashGroupId(value))))))
    val docs = Seq(
      doc("u1", "alpha corporation"), doc("u2", "alpha corporation inc"), // near-dups
      doc("u3", "zeta fund")).toDS() // singleton -> trivial, must NOT appear
    val dict = Linker.lshBroadcastDictionary(docs, jaccardThreshold = 0.4)
    // the group REPRESENTATIVE maps to its own hash id — trivial by definition,
    // so only the non-representative member needs (and gets) an entry
    assert(dict == Map("alpha corporation inc" -> Linker.hashGroupId("alpha corporation")))
    val e = intercept[IllegalArgumentException] {
      Linker.lshBroadcastDictionary(docs, maxEntries = 0, jaccardThreshold = 0.4)
    }
    assert(e.getMessage.contains("non-trivial"))
  }
}
