package perfbench

import java.nio.charset.StandardCharsets.UTF_8
import java.nio.file.{Files, Paths}

import org.apache.spark.BenchListenerBus
import org.apache.spark.sql.{DataFrame, Dataset, SaveMode, SparkSession}
import org.apache.spark.sql.functions._

import graft.core.{Graph, GraphLink, GraphNode, Page}
import graft.graph.{D3Json, GraphBuilder, Viewer}
import graft.kg.{KgPipeline, LexiconScorer, Sampler}
import graft.link.Linker
import graft.ner.BracketNer
import graft.sources.{DocSources, Warc}
import graft.text.TextOps

/** Per-layer timing of one Infer call from outside the program:
  *
  *   Ladder REPORT PATH SOURCE INPUT OUT INFER_REPORT INFER_ARGS...
  *
  * First runs `graft.cli.Infer` with INFER_ARGS, traced, as [[Launch]] does
  * (report in INFER_REPORT). Then, in the same JVM, so JIT and query code
  * generation are already paid and the numbers are steady-state costs, it
  * times the layers of that call over INPUT. PATH is `fused` or `lsh` (the
  * Infer configuration), SOURCE `parquet` or `warc`. Each step evaluates a
  * cumulative prefix of the Infer pipeline, built from the engine's public
  * functions, into Spark's `noop` sink, so a layer's self time is the
  * difference between consecutive prefixes. Write steps and the graph build
  * mirror the statements of `graft.cli.Infer.main`. Every step is a span
  * carrying the listener counters accumulated during it.
  */
object Ladder {

  def main(args: Array[String]): Unit = {
    val Array(report, path, source, input, out, inferReport) = args.take(6)
    if (!Launch.call(inferReport, trace = true, "graft.cli.Infer", args.drop(6))) System.exit(1)

    val spans = new Spans(Paths.get(report).getFileName.toString)
    implicit val spark: SparkSession =
      spans.timed("setup")(Launch.sessionFor("graft.cli.Infer", Map("--master" -> "local[4]")).get.getOrCreate())
    spark.sparkContext.setLogLevel("WARN")
    import spark.implicits._
    val stats = new StageStats
    spark.sparkContext.addSparkListener(stats)

    def step[T](name: String)(f: => T): T = {
      BenchListenerBus.drain(spark.sparkContext)
      val before = stats.snapshot
      val s = spans.now()
      val r = f
      val e = spans.now()
      BenchListenerBus.drain(spark.sparkContext)
      val after = stats.snapshot
      spans.add(name, s, e, "ladder", after.map { case (k, v) => k -> (v - before(k)) })
      r
    }
    /** A cumulative prefix into the noop sink. */
    def prefix(name: String)(ds: Dataset[_]): Unit =
      step(name)(ds.write.format("noop").mode(SaveMode.Overwrite).save())
    def count(name: String)(n: => Long): Unit = spans.add(name, 0, 0, "ladder", Map("value" -> step(s"probe_$name")(n)))

    val cfg = KgPipeline.Config(sampler = Sampler.Config(termsPerContext = 50, distInTermsBound = 50))
    val fusedCfg = KgPipeline.Config(sampler =
      Sampler.Config(termsPerContext = 50, distInTermsBound = 50, renderText = false))
    val scorer = LexiconScorer()

    def pages: Dataset[Page] =
      if (source == "warc") DocSources.warc(spark, input) else spark.read.parquet(input).as[Page]

    // sources: the scan alone; for WARC, records and HTTP bodies without html→text
    if (source == "warc") step("scan") {
      spark.sparkContext.binaryFiles(input).flatMap { case (name, pds) =>
        val raw = pds.toArray()
        val plain = if (name.endsWith(".gz")) Warc.gunzipAll(raw) else raw
        Warc.records(plain).iterator.filter(_.recordType.equalsIgnoreCase("response"))
          .map(r => Warc.httpResponseBody(r.payload).length)
      }.count()
    }
    prefix("pages")(pages)
    val nPages = step("probe_pages")(pages.count())

    val triplesOut = s"$out/triples"
    if (path == "fused") {
      prefix("fused")(KgPipeline.triplesFused(pages, fusedCfg, scorer))
      step("write_triples")(KgPipeline.triplesFused(pages, fusedCfg, scorer)
        .write.mode(SaveMode.Overwrite).parquet(triplesOut))
    } else {
      prefix("tokenize")(pages.map(p =>
        TextOps.splitLines(p.text).iterator.map(s => TextOps.tokenize(s).length).sum))
      prefix("ner")(KgPipeline.parsePages(pages, BracketNer, cfg, _ => 0L))
      val parsed = KgPipeline.parsePages(pages, BracketNer, cfg, Linker.hashGroupId)
      prefix("link_hash")(parsed)
      count("ner.mentions")(parsed.map(_.sentences.iterator.map(_.mentions.size.toLong).sum).reduce(_ + _))
      // Infer persists the parsed docs before LSH linking. The linked docs
      // are then cached, so later prefixes start from them, not from an LSH rerun.
      val persisted = parsed.persist()
      val linked = step("link_lsh") {
        val l = Linker.withLshGroups(persisted).persist()
        l.write.format("noop").mode(SaveMode.Overwrite).save()
        l
      }
      persisted.unpersist(blocking = true)
      count("link.dict_entries")(Linker.lshNonTrivialDf(linked).count())
      prefix("linked")(linked)
      prefix("samples")(KgPipeline.samples(linked, cfg))
      prefix("score")(KgPipeline.triples(KgPipeline.samples(linked, cfg), scorer))
      // the write block of Infer.main: samples persisted, three parquet writes
      val samples = step("write_contents") {
        val s = KgPipeline.samples(linked, cfg).persist()
        KgPipeline.contentsCompat(s).write.mode(SaveMode.Overwrite).parquet(s"$out/contents")
        s
      }
      step("write_predict")(KgPipeline.predictionsOneHot(KgPipeline.predictions(samples, scorer))
        .write.mode(SaveMode.Overwrite).parquet(s"$out/predict"))
      step("write_triples")(KgPipeline.triples(samples, scorer)
        .write.mode(SaveMode.Overwrite).parquet(triplesOut))
      samples.unpersist(blocking = true)
      linked.unpersist(blocking = true)
    }

    // graph build over the written triples, as Infer.main does it
    val t = spark.read.parquet(triplesOut)
    val sides = t.select(col("subj").as("value"), col("subjType").as("type"),
        struct(col("docId"), col("sentInd"), col("sampleId"), lit(0).as("side")).as("ord"))
      .union(t.select(col("obj"), col("objType"),
        struct(col("docId"), col("sentInd"), col("sampleId"), lit(1).as("side"))))
    val typeMap = sides.groupBy("value").agg(max_by(col("type"), col("ord")).as("type"))
    val rels = t.select(col("subj").as("source"), col("obj").as("target"), col("pred").as("sent"))
    def edges: DataFrame = GraphBuilder.edges(GraphBuilder.withNodeKeys(rels, typeMap), 1.0)
    prefix("typemap")(typeMap)
    prefix("edges")(edges)
    prefix("nodes")(GraphBuilder.nodes(edges))
    val (graph, maxW) = step("collect") {
      val e = edges.persist()
      e.count()
      val ns = GraphBuilder.nodes(e).orderBy("id").collect()
        .map(r => GraphNode(r.getString(0), r.getDouble(1))).toSeq
      val ls = e.orderBy("source", "target", "sent").collect()
        .map(r => GraphLink(r.getString(0), r.getString(1), r.getDouble(3), r.getString(2))).toSeq
      e.unpersist(blocking = true)
      // PageRank's weight: the count summed over the labels of a (source, target) pair
      val pairW = ls.groupMapReduce(l => (l.source, l.target))(_.c)(_ + _).values
      (Graph(Seq("ladder"), "[ladder]", ns, ls), if (pairW.isEmpty) 0.0 else pairW.max)
    }
    step("d3_write") {
      D3Json.save(graph, out, "ladder", intLinkC = true, intNodeC = false)
      Viewer.save(out, "ladder")
    }

    spark.stop()

    val fields = Seq(
      s""""path":"$path"""", s""""pages":$nPages""",
      s""""graph_nodes":${graph.nodes.size}""", s""""graph_edges":${graph.links.size}""",
      s""""max_edge_weight":$maxW""", s""""spans":${spans.json}""")
    Files.write(Paths.get(report), fields.mkString("{", ",", "}\n").getBytes(UTF_8))
  }
}
