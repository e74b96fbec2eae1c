package graft.kg

import org.scalatest.funsuite.AnyFunSuite
import graft.SparkTestSession
import graft.core._
import graft.gen.PageGen
import graft.link.Linker
import graft.ner.BracketNer
import graft.graph.{GraphBuilder, GraphOps}

class KgPipelineSpec extends AnyFunSuite with SparkTestSession {

  private val cfg = KgPipeline.Config(nerTypes = Set("ORG", "PERSON", "LOC", "GPE"))

  // cue words in BOTH lexicons: LexiconScorer checks positive first, so
  // they score +1 — the fused kernel's cue table must agree
  private val overlapScorer = LexiconScorer(
    LexiconScorer.defaultPositive ++ Set("war", "slow", "small"),
    LexiconScorer.defaultNegative ++ Set("fast", "good", "big"))

  private def run(n: Int, seed: Long = 42L) = {
    val pages = PageGen.pages(n, seed, partitions = 4)
    val parsed = KgPipeline.parsePages(pages, BracketNer, cfg)
    val ss = KgPipeline.samples(parsed, cfg)
    (parsed, ss)
  }

  test("end-to-end slice: pages -> parsed -> samples -> triples, deterministic") {
    val (parsed, ss) = run(30)
    val docs = parsed.collect()
    assert(docs.length == 30)
    assert(docs.forall(_.sentences.nonEmpty))
    val samples = ss.collect()
    assert(samples.nonEmpty)
    // pair invariants (reference J1/F1): same sentence, bound, ordered, no self-group
    samples.foreach { s =>
      assert(math.abs(s.sInd - s.tInd) <= 50)
      assert(s.sValue != s.tValue)
      assert(s.entities.nonEmpty && s.entities.size == s.entityValues.size)
      assert(s.terms(s.sInd) == s.sValue && s.terms(s.tInd) == s.tValue)
    }
    // determinism: a second run yields identical sample ids + texts
    val again = run(30)._2.collect()
    assert(again.map(s => (s.id, s.textA)).sortBy(_._1).toSeq ==
      samples.map(s => (s.id, s.textA)).sortBy(_._1).toSeq)
  }

  test("html extraction path produces identical samples as the text path") {
    import spark.implicits._
    val pages = PageGen.pages(10, 7L)
    val viaText = KgPipeline.samples(KgPipeline.parsePages(pages, BracketNer, cfg), cfg)
      .collect().sortBy(_.id)
    val viaHtml = KgPipeline.samples(
      KgPipeline.parsePages(
        pages.map(p => p.copy(text = "")), BracketNer, cfg.copy(extractFromHtml = true)), cfg)
      .collect().sortBy(_.id)
    assert(viaText.map(_.textA).toSeq == viaHtml.map(_.textA).toSeq)
  }

  test("scorer + triples: all three classes appear, fused == joined") {
    val (_, ss) = run(60)
    val scorer = LexiconScorer()
    val fused = KgPipeline.triples(ss, scorer).collect()
    assert(fused.map(_.pred).toSet == Set("pos", "neg", "neu"))
    val preds = KgPipeline.predictions(ss, scorer)
    val joined = KgPipeline.triplesJoined(ss, preds).collect()
    assert(joined.sortBy(_.sampleId).toSeq == fused.sortBy(_.sampleId).toSeq)
  }

  test("triplesFused == object path bit-for-bit on corpus + edge-case pages") {
    import spark.implicits._
    val fcfg = KgPipeline.Config(sampler = Sampler.Config(renderText = false))
    val gen = PageGen.pages(300, 99L, 64, sentsMin = 1, sentsMax = 40)
    // edge cases: empty text, blank/whitespace lines, trailing newlines,
    // untyped brackets (term rewrite of a FILTERED mention feeds the cue
    // sums), non-kept types, empty values, punctuated/uppercase cue words,
    // bracket-only tokens below the len>=3 bar, colon-first brackets
    val edge = Seq(
      Page("e0", null, null, "", "en"),
      Page("e1", null, null, "\n\n", "en"),
      Page("e2", null, null, "  [ORG:acme] fast [PERSON:bob] \n", "en"),
      Page("e3", null, null, "[abc] [ORG:x] slow [GPE:y]", "en"), // [abc] filtered -> "abc" cue-checked
      Page("e4", null, null, "[XYZ:q] [ORG:x] good [LOC:z]", "en"), // XYZ not kept
      Page("e5", null, null, "[ORG:] bad [PERSON:p]", "en"), // empty value
      Page("e6", null, null, "[ORG:a] Fast, big! [PERSON:b]", "en"), // slow-path cues
      Page("e7", null, null, "[] [: ] [ORG:a] war [GPE:g]", "en"),
      Page("e8", null, null, "[ORG:a]big\t[PERSON:b]\r\nnext line", "en"),
      Page("e9", null, null, "[or_g:a] [ORG:b] win [GPE:c]", "en")) // lowercase type -> untyped
    val pages = gen.union(edge.toDS())
    val scorer = LexiconScorer()
    for (sc <- Seq(scorer, overlapScorer)) {
      val obj = KgPipeline.triples(KgPipeline.samples(
        KgPipeline.parsePages(pages, BracketNer, fcfg), fcfg), sc)
        .collect().sortBy(_.sampleId)
      val fused = KgPipeline.triplesFused(pages, fcfg, sc)
        .collect().sortBy(_.sampleId)
      assert(obj.length == fused.length && obj.nonEmpty)
      assert(obj.toSeq == fused.toSeq)
    }
    // unsupported configurations fail fast
    intercept[IllegalArgumentException] {
      KgPipeline.triplesFused(pages, fcfg.copy(splitter = "sentence"), scorer)
    }
    intercept[IllegalArgumentException] {
      KgPipeline.triplesFused(pages, KgPipeline.Config(), scorer)
    }
  }

  test("fused-kernel randomized parity: 400 adversarial random pages (both modes)") {
    import spark.implicits._
    import org.scalacheck.Gen
    val token = Gen.oneOf(
      "word", "fast", "slow", "Fast,", "big!", "small", "the", "a1", "x",
      "[ORG:acme]", "[PERSON:a-b]", "[XYZ:n]", "[abc]", "[]", "[:x]",
      "[OR_G:y]", "[ORG:]", "[GPE:q]", "spark", "customer", "ab", "war",
      "good", "[LOC:l]", "[ORG:spark]", "\u0001spark", "Caf\u00e9", "CAF\u00c9")
    val sep = Gen.oneOf(" ", "  ", "\t", "", " \t ")
    val line = for {
      n <- Gen.choose(0, 12)
      ts <- Gen.listOfN(n, token)
      ss <- Gen.listOfN(math.max(n - 1, 0), sep)
      lead <- Gen.oneOf("", " ", "\t")
    } yield lead + (if (ts.isEmpty) "" else
      ts.head + ss.zip(ts.tail).map { case (s, t) => s + t }.mkString)
    val pageText = for {
      k <- Gen.choose(0, 6)
      ls <- Gen.listOfN(k, line)
      tail <- Gen.oneOf("", "\n", "\n\n")
    } yield ls.mkString("\n") + tail
    val params = Gen.Parameters.default
    val texts = (1 to 400).map(i =>
      pageText.pureApply(params, org.scalacheck.rng.Seed(i.toLong)))
    val pages = texts.zipWithIndex
      .map { case (t, i) => Page(s"r$i", null, null, t, "en") }.toDS()
    val fcfg = KgPipeline.Config(sampler = Sampler.Config(
      termsPerContext = 7, distInTermsBound = 5, renderText = false))
    val scorer = LexiconScorer()
    // bracket mode
    for (sc <- Seq(scorer, overlapScorer)) {
      val objB = KgPipeline.triples(KgPipeline.samples(
        KgPipeline.parsePages(pages, BracketNer, fcfg), fcfg), sc)
        .collect().sortBy(_.sampleId).toSeq
      val fusB = KgPipeline.triplesFused(pages, fcfg, sc)
        .collect().sortBy(_.sampleId).toSeq
      assert(objB == fusB && objB.nonEmpty)
    }
    // lexicon mode
    val lex = Map("spark" -> "ORG", "customer" -> "PERSON", "ab" -> "GPE",
      "caf\u00e9" -> "LOC") // non-ASCII key: slow-path lookup must MATCH
    val objL = KgPipeline.triples(KgPipeline.samples(
      KgPipeline.parsePages(pages, graft.ner.LexiconNer(lex), fcfg), fcfg), scorer)
      .collect().sortBy(_.sampleId).toSeq
    val fusL = KgPipeline.triplesFusedLexicon(pages, fcfg, lex, scorer)
      .collect().sortBy(_.sampleId).toSeq
    assert(objL == fusL && objL.nonEmpty)
  }

  test("triplesFusedLexicon == object pipeline with LexiconNer (DocKg configuration)") {
    import spark.implicits._
    import org.apache.spark.sql.functions.col
    val lex = graft.ops.DocKg.entityLexicon
    val fcfg = graft.ops.DocKg.cfg // pin the ACTUAL oracle-checked configuration
    val docs = spark.read.parquet("/root/testdata/sf0.001/documents.parquet")
      .select(col("doc_id").cast("string").as("url"), col("text"), col("lang"))
      .map(r => Page(r.getString(0), null, null, r.getString(1), r.getString(2)))
    val edge = Seq(
      Page("x1", null, null, "Spark fast CUSTOMER slow table", "en"), // case variants
      Page("x2", null, null, "spark fast customer", "en"), // control char: trim at region ends
      Page("x3", null, null, "spark spark fast customer customer", "en"), // same-group pairs suppressed
      Page("x4", null, null, "", "en"),
      Page("x5", null, null, "sparké fast customer stream", "en")).toDS() // non-ASCII slow path
    val pages = docs.union(edge)
    val scorer = graft.ops.DocKg.scorer
    val obj = KgPipeline.triples(KgPipeline.samples(
      KgPipeline.parsePages(pages, graft.ner.LexiconNer(lex), fcfg), fcfg), scorer)
      .collect().sortBy(_.sampleId)
    val fused = KgPipeline.triplesFusedLexicon(pages, fcfg, lex, scorer)
      .collect().sortBy(_.sampleId)
    assert(obj.length == fused.length && obj.nonEmpty)
    assert(obj.toSeq == fused.toSeq)
  }

  test("tripleRecords read API mirrors sample_service.py record shape + filter") {
    import org.apache.spark.sql.functions._
    val (_, ss) = run(20)
    val preds = KgPipeline.predictions(ss, LexiconScorer())
    val recs = KgPipeline.tripleRecords(ss, preds)
    assert(recs.columns.toSeq ==
      Seq("filename", "text", "s_val", "t_val", "s_type", "t_type", "label"))
    assert(recs.count() == ss.count())
    val onlyNeg = KgPipeline.tripleRecords(ss, preds, Some(col("label") === 2))
    assert(onlyNeg.count() > 0 && onlyNeg.count() < recs.count())
    assert(onlyNeg.select("label").distinct().collect().map(_.getInt(0)).toSeq == Seq(2))
  }

  test("one-hot compat export follows the by-name contract (sample_service.py:17-24)") {
    import spark.implicits._
    val preds = Seq(Prediction("a", 0), Prediction("b", 1), Prediction("c", 2)).toDS()
    val rows = KgPipeline.predictionsOneHot(preds).collect().map(r =>
      (r.getString(0), r.getInt(1), r.getInt(2), r.getInt(3))).sortBy(_._1)
    assert(rows.toSeq == Seq(("a", 1, 0, 0), ("b", 0, 1, 0), ("c", 0, 0, 1)))
  }

  test("contents compat export comma-joins list columns (SURVEY §1.2)") {
    val (_, ss) = run(5)
    val row = KgPipeline.contentsCompat(ss).orderBy("id").limit(1).collect()(0)
    val ents = row.getAs[String]("entities")
    assert(ents.split(",").forall(s => s.trim.nonEmpty && s.forall(_.isDigit)))
    assert(row.getAs[String]("entity_types").split(",").forall(Set("ORG", "PERSON", "LOC", "GPE")))
  }

  test("DataFrame graph build matches local exact build") {
    import org.apache.spark.sql.functions._
    val (_, ss) = run(40)
    val triples = KgPipeline.triples(ss, LexiconScorer())
    // value->type map: in this corpus types are functional per value
    val tm = triples.select(col("subj").as("value"), col("subjType").as("type"))
      .union(triples.select(col("obj"), col("objType"))).distinct()
    val rels = triples.select(col("subj").as("source"), col("obj").as("target"), col("pred").as("sent"))
    val keyed = GraphBuilder.withNodeKeys(rels, tm.toDF())
    val dfEdges = GraphBuilder.edges(keyed, minLinks = 2).collect()
      .map(r => (r.getString(0), r.getString(1), r.getString(2)) -> r.getDouble(3)).toMap

    val localRels = triples.collect().map(t => GraphBuilder.Relation(t.subj, t.obj, t.pred)).toSeq
    val localMap = triples.collect().flatMap(t => Seq(t.subj -> t.subjType, t.obj -> t.objType)).toMap
    val local = GraphBuilder.buildLocal("g", localRels, localMap, minLinks = 2)
    val localEdges = local.links.map(l => (l.source, l.target, l.sent) -> l.c).toMap
    assert(dfEdges == localEdges)

    val dfNodes = GraphBuilder.nodes(GraphBuilder.edges(keyed, minLinks = 2)).collect()
      .map(r => r.getString(0) -> r.getDouble(1)).toMap
    assert(dfNodes == local.nodes.map(n => n.id -> n.c).toMap)
  }

  test("DataFrame graph algebra matches local GraphOps") {
    val (_, ss) = run(60)
    val triples = KgPipeline.triples(ss, LexiconScorer())
    import org.apache.spark.sql.functions._
    val rels = triples.select(col("subj").as("source"), col("obj").as("target"), col("pred").as("sent"))
    // split stream in two halves by doc hash
    val a = rels.filter(abs(hash(col("source"))) % 2 === 0)
    // reuse source split trick on full frame for a/b: a = even docs, b = all
    val edgesA = GraphBuilder.edges(a, minLinks = 1)
    val edgesB = GraphBuilder.edges(rels, minLinks = 1)

    def toLocal(df: org.apache.spark.sql.DataFrame): Graph =
      Graph(Seq("x"), "[x]", Seq.empty,
        df.collect().map(r => GraphLink(r.getString(0), r.getString(1), r.getDouble(3), r.getString(2))).toSeq)

    // NOTE column order of edges(): source,target,sent,c
    def toLocal2(df: org.apache.spark.sql.DataFrame): Graph =
      Graph(Seq("x"), "[x]", Seq.empty,
        df.collect().map(r => GraphLink(
          r.getAs[String]("source"), r.getAs[String]("target"),
          r.getAs[Double]("c"), r.getAs[String]("sent"))).toSeq)

    val la = toLocal2(edgesA); val lb = toLocal2(edgesB)
    for ((dfOp, op) <- Seq(
        (GraphOps.edgeUnion(edgesA, edgesB), GraphOps.Union),
        (GraphOps.edgeIntersection(edgesA, edgesB), GraphOps.Intersection),
        (GraphOps.edgeDifference(edgesB, edgesA), GraphOps.Difference))) {
      val expected = op match {
        case GraphOps.Difference => GraphOps(lb, la, op)
        case _ => GraphOps(la, lb, op)
      }
      val expectedMap = expected.links.map(l => (l.source, l.target, l.sent) -> l.c).toMap
      val got = dfOp.collect().map(r => (r.getAs[String]("source"), r.getAs[String]("target"),
        r.getAs[String]("sent")) -> r.getAs[Double]("c")).toMap
      assert(got.keySet == expectedMap.keySet, s"$op keys")
      got.foreach { case (k, v) => assert(math.abs(v - expectedMap(k)) < 1e-12, s"$op $k") }
    }
  }

  test("linker: dictionary grouping with hash fallback; synonyms share group") {
    import spark.implicits._
    val dict = Linker.parseSynonyms(Iterator("usa, america, u.s.", "bob smith, bob"))
    assert(dict("usa") == 0L && dict("america") == 0L && dict("bob") == 1L)
    val d = ParsedDoc("u", "en", Seq(Sentence(0, Seq("USA", "met", "America"),
      Seq(Mention(0, 0, "USA", "GPE", 0, 0), Mention(0, 2, "America", "GPE", 1, 0)))))
    val grouped = Linker.withDictionary(Seq(d).toDS(), dict).collect()(0)
    val gids = grouped.sentences.head.mentions.map(_.groupId)
    assert(gids(0) == gids(1)) // same synonym group -> no pair generated
    assert(Sampler.sampleDoc(grouped, Sampler.Config()).isEmpty)
  }

  test("Eval.triplePR: confusion counts, P/R/F1 closed forms, NaN on empty sides") {
    import spark.implicits._
    val got = Seq(("a", "pos", "b"), ("a", "pos", "b"), ("c", "neg", "d"), ("x", "pos", "y"))
      .toDF("subj", "pred", "obj") // duplicate row collapses: identity is DISTINCT
    val ref = Seq(("a", "pos", "b"), ("c", "neg", "d"), ("m", "neg", "n"), ("p", "pos", "q"))
      .toDF("subj", "pred", "obj")
    val r = Eval.triplePR(got, ref).head()
    assert((r.getLong(0), r.getLong(1), r.getLong(2)) == ((2L, 1L, 2L)))
    assert(r.getDouble(3) == 2.0 / 3.0) // precision
    assert(r.getDouble(4) == 0.5)       // recall
    assert(r.getDouble(5) == 4.0 / 7.0) // f1 = 2tp/(2tp+fp+fn)
    val empty = Seq.empty[(String, String, String)].toDF("subj", "pred", "obj")
    val e = Eval.triplePR(empty, ref).head()
    assert(e.getDouble(3).isNaN && e.getDouble(4) == 0.0)
  }
}
