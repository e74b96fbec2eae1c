package graft.cli

import org.apache.spark.sql.{SaveMode, SparkSession}
import graft.core.Page
import graft.gen.PageGen
import graft.graph.{D3Json, GraphBuilder}
import graft.kg.{KgPipeline, LexiconScorer, Sampler}
import graft.link.Linker
import graft.ner.{BracketNer, CapitalizedNer}

/** CLI mirroring `python -m arelight.run.infer` (reference
  * arelight/run/infer.py:48-343): pages in -> samples + predictions + triples
  * parquet out + d3js force/radial JSON. `--fused on` writes the triples
  * only; `--checkpoint` writes them bucket by bucket and stops there.
  *
  * The graph is built from the written triples aggregate-first
  * (`GraphBuilder.tripleEdges`): one hash aggregation to typed-triple
  * multiplicities, then the value->type map, node keys and edge counts on
  * that small relation, then the min-links filter and one driver collect
  * finished by `GraphBuilder.collectedGraph`. The last stdout line is
  * `{"pages_out","samples","triples","nodes","links"}`; `triples` is the
  * written row count, summed from the multiplicities.
  *
  * Usage:
  *   runMain graft.cli.Infer --synthetic 1000 --out /tmp/out [options]
  *   runMain graft.cli.Infer --pages /path/pages.parquet --out /tmp/out
  *   runMain graft.cli.Infer --txt 'dir/glob.txt' --out /tmp/out
  *   runMain graft.cli.Infer --csv /path/docs.csv --csv-column text --out /tmp/out
  *
  * Options: --terms-per-context N (50)  --min-links N (1)  --ner bracket|cap|stub-bio
  *          --name NAME (graph name)    --master local[N]   --synonyms FILE
  *          --docs-limit N (F2)         --checkpoint DIR --buckets N (resumable triples)
  *          --link hash|lsh (synonym grouping: shuffle-free hash ids, or the
  *            distributed minhash-LSH surface-form linking — P9 at scale);
  *            with --checkpoint the LSH dictionary is computed once over the
  *            FULL page set (deterministic per url across chunked/resumed
  *            runs); --max-link-dict N caps its non-trivial entries
  *          --translate identity|reverse (P7 stage: fragment translation with
  *            entity exclusion + re-flattening; deterministic models only in
  *            this environment — `reverse` visibly transforms text while
  *            keeping entities and triple counts invariant)
  *          --stemmer suffix (P8: lemmatized synonym keys via the suffix
  *            stemmer stand-in, reference --stemmer)
  *          --sqlite FILE --sqlite-table T --sqlite-column C (S4 source via the
  *            built-in read-only sqlite parser)
  *          --warc GLOB (Common-Crawl-style .warc/.warc.gz page source via the
  *            built-in ISO 28500 parser, graft.sources.Warc; html→text by the
  *            engine's deterministic extractor)
  *          --max-collected-edges N (driver guard; above it the graph is
  *            written as distributed JSON instead of one d3js file)
  *          --fused on (zero-token-allocation kernel: triples + graph only,
  *            no contents/predict exports — the 10^12-page production shape;
  *            composes with --checkpoint for resumable fused runs)
  *          --changelog-store DIR --batch-id B --asof-ts T (versioned-KG
  *            feed: assert this crawl's triples, retract vanished ones)
  *          --links DIR (web-link-graph side channel from the same page set:
  *            (src, dst, anchor) parquet + host-graph csv via ops/WebGraph —
  *            row-local, adds no shuffle; markup-less sources contribute
  *            nothing; fixture input: `runMain graft.tools.WarcFixture`)
  *          --edge-store DIR --batch-id ID (continuous KG maintenance: fold
  *            this batch's unfiltered edge counts into the persistent
  *            EdgeStore — exactly-once per batch id — and emit the graph
  *            from the ACCRETED state; --min-links applies at read)
  */
object Infer {
  def main(args: Array[String]): Unit = {
    val opts = args.sliding(2, 2).collect { case Array(k, v) => k -> v }.toMap
    val out = opts.getOrElse("--out", sys.error("--out required"))
    val master = opts.getOrElse("--master", s"local[${Runtime.getRuntime.availableProcessors}]")

    implicit val spark: SparkSession = SparkSession.builder()
      .master(master)
      .appName("graft-infer")
      .config("spark.sql.shuffle.partitions", "32")
      .config("spark.sql.adaptive.enabled", "true")
      .config("spark.sql.adaptive.skewJoin.enabled", "true")
      .config("spark.ui.enabled", "false")
      .config("spark.sql.session.timeZone", "UTC")
      .getOrCreate()
    spark.sparkContext.setLogLevel("WARN")
    import spark.implicits._

    val rawDocs: Option[org.apache.spark.sql.DataFrame] =
      opts.get("--txt").map(p => graft.sources.DocSources.txt(spark, p))
        .orElse(opts.get("--csv").map(p =>
          graft.sources.DocSources.csvColumn(spark, p, opts.getOrElse("--csv-column", "text"),
            opts.getOrElse("--csv-delimiter", ","))))
        .orElse(opts.get("--jsonl").map(p =>
          graft.sources.DocSources.jsonl(spark, p, opts.getOrElse("--jsonl-field", "text"))))
        .orElse(opts.get("--zip").map(p => graft.sources.DocSources.zip(spark, p)))
        .orElse(opts.get("--sqlite").map(p => graft.sources.DocSources.sqliteTable(spark, p,
          opts.getOrElse("--sqlite-table", "contents"),
          opts.getOrElse("--sqlite-column", "text_a"))))
        .map(d => opts.get("--docs-limit").map(n =>
          graft.sources.DocSources.docsLimit(d, n.toInt)).getOrElse(d))

    val pages =
      rawDocs.map(graft.sources.DocSources.asPages(_)).getOrElse {
        (opts.get("--warc"), opts.get("--pages")) match {
          case (Some(path), _) => graft.sources.DocSources.warc(spark, path)
          case (_, Some(path)) => spark.read.parquet(path).as[Page]
          case _               => PageGen.pages(opts.getOrElse("--synthetic", "100").toLong)
        }
      }

    val tpc = opts.getOrElse("--terms-per-context", "50").toInt
    val cfg = KgPipeline.Config(sampler =
      Sampler.Config(termsPerContext = tpc, distInTermsBound = tpc))
    val ner: graft.ner.Ner = opts.getOrElse("--ner", "bracket") match {
      case "cap"      => CapitalizedNer
      case "stub-bio" => graft.ner.BatchedNer(graft.ner.StubBioTagger)
      case _          => BracketNer
    }

    val synonymDict: Map[String, Long] = opts.get("--synonyms")
      .map(f => Linker.parseSynonyms(scala.io.Source.fromFile(f, "UTF-8").getLines()))
      .getOrElse(Map.empty)
    val groupId: String => Long = opts.get("--stemmer") match {
      case Some("suffix") => // P8: lemmatized synonym keys (reference --stemmer)
        graft.text.Normalize.stemmedGroupId(synonymDict, graft.text.SuffixStemmer)
      case Some(other) => throw new IllegalArgumentException(s"unknown --stemmer: $other")
      case None if synonymDict.nonEmpty =>
        v => synonymDict.getOrElse(graft.text.TextOps.canonicalKey(v), Linker.hashGroupId(v))
      case None => Linker.hashGroupId
    }
    // parse + translate as a function of the page set, so the checkpoint
    // transform runs the IDENTICAL pipeline over each bucket instead of
    // silently dropping stages; nothing executes until a consumer materializes
    def parseAndTranslate(ps: org.apache.spark.sql.Dataset[Page]): org.apache.spark.sql.Dataset[graft.core.ParsedDoc] = {
      val raw = KgPipeline.parsePages(ps, ner, cfg, groupId)
      // P7 translation stage (entity-excluding fragment translation +
      // re-flatten); deterministic models only in this environment
      opts.get("--translate") match {
        case Some("identity") => graft.text.Normalize.translate(raw, graft.text.IdentityTranslator)
        case Some("reverse")  => graft.text.Normalize.translate(raw, graft.text.ReverseTranslator)
        case Some(other)      => throw new IllegalArgumentException(s"unknown --translate model: $other")
        case None             => raw
      }
    }
    val linkLsh = opts.getOrElse("--link", "hash") match {
      case "lsh"  => true
      case "hash" => false
      case other  => throw new IllegalArgumentException(s"unknown --link mode: $other")
    }

    // --fused on: the zero-token-allocation kernel (KgPipeline.triplesFused,
    // bit-identical to the object pipeline) — triples + graph only, no
    // contents/predict exports (nothing is rendered on this path). The shape
    // a 10^12-page production run uses.
    val fusedMode = opts.get("--fused") match {
      case Some("on") | Some("true")   => true
      case Some("off") | Some("false") => false
      case Some(other) => throw new IllegalArgumentException(s"unknown --fused value: $other (on|off)")
      case None => false
    }
    if (fusedMode) {
      require(opts.getOrElse("--ner", "bracket") == "bracket",
        "--fused supports --ner bracket (the fused kernel's tagger)")
      require(!linkLsh && opts.get("--translate").isEmpty &&
        opts.get("--stemmer").isEmpty && synonymDict.isEmpty,
        "--fused is the hash-grouping bracket fast path; drop --link lsh/--translate/--stemmer/--synonyms")
    }
    val fusedCfg = KgPipeline.Config(sampler =
      Sampler.Config(termsPerContext = tpc, distInTermsBound = tpc, renderText = false))

    // --links DIR: web-link-graph side channel off the SAME page set —
    // (src, dst, anchor) parquet plus the host-coarsened graph csv
    // (ops/WebGraph.scala). Row-local extraction, so it adds no shuffle to
    // the run; sources without markup (txt/csv/jsonl: html is null) simply
    // contribute no links. Composes with every page source incl. --warc.
    opts.get("--links").foreach { dir =>
      import org.apache.spark.sql.functions.{col, lit}
      val links = graft.ops.WebGraph.extractLinks(
          pages.toDF().filter(col("html").isNotNull), col("html"), col("url"))
        .localCheckpoint() // one page scan feeds both the link and host outputs
      links.write.mode(SaveMode.Overwrite).parquet(s"$dir/links")
      graft.io.Sinks.csv(graft.ops.WebGraph.hostGraph(links), s"$dir/hosts")
      // --frontier-store DIR --batch-id ID: fold this batch's in-link
      // evidence (dst url, src host) into the persistent frontier store —
      // the batch counterpart of StreamOps.frontierIngestStream; query it
      // with Operations --operation FRONTIER
      opts.get("--frontier-store").foreach { storeDir =>
        val batchId = opts.getOrElse("--batch-id",
          sys.error("--frontier-store requires --batch-id (the idempotent-retry token)"))
        val folded = graft.ops.EdgeStore.merge(
          graft.graph.GraphBuilder.edgeState(links.select(
            col("dst").as("source"),
            graft.ops.UrlOps.hostOf(col("src")).as("target"),
            lit("inlink").as("sent"))),
          storeDir, s"frontier-$batchId")
        if (!folded)
          System.err.println(s"batch 'frontier-$batchId' already in $storeDir ledger; " +
            "fold skipped (idempotent retry)")
      }
      println(s"""{"links_out":"$dir","links":${links.count()}}""")
    }

    // --mirrors DIR [--min-shared N]: mirror/shared-content host pairs over
    // this run's page set (host of url x md5 of extracted text) — the
    // host-granularity dedup report a crawl operator reads before
    // re-scheduling fetches (ops/WebGraph.mirrorHosts).
    opts.get("--mirrors").foreach { dir =>
      import org.apache.spark.sql.functions.{col, md5}
      val pairs = graft.ops.WebGraph.mirrorHosts(
        pages.toDF().filter(col("text").isNotNull),
        graft.ops.UrlOps.hostOf(col("url")),
        md5(col("text").cast("binary")),
        minShared = opts.getOrElse("--min-shared", "2").toLong)
        .localCheckpoint() // one materialization feeds the csv and the count
      graft.io.Sinks.csv(pairs, dir)
      println(s"""{"mirrors_out":"$dir","host_pairs":${pairs.count()}}""")
    }

    // resumable path: triples written bucket-checkpointed, then exit
    opts.get("--checkpoint").foreach { ckptDir =>
      val n = opts.getOrElse("--buckets", "16").toInt
      // --link lsh under checkpointing: group ids must NOT depend on which
      // buckets are co-resident in a run (Checkpoint's contract — the
      // transform must be deterministic per url, or crash-resumed/chunked
      // runs emit different triples than a single full run). The dictionary
      // is therefore computed ONCE over the FULL page set and probed
      // map-side inside every bucket transform; guarded by --max-link-dict.
      val linkStage: org.apache.spark.sql.Dataset[graft.core.ParsedDoc] => org.apache.spark.sql.Dataset[graft.core.ParsedDoc] =
        if (!linkLsh) identity
        else {
          val dict = Linker.lshBroadcastDictionary(parseAndTranslate(pages),
            maxEntries = opts.getOrElse("--max-link-dict", "10000000").toInt)
          Linker.withDictionary(_, dict)
        }
      // --max-buckets: bound one invocation's failure domain / enable
      // incremental operation (Checkpoint.runResumable's maxBuckets knob)
      val maxB = opts.get("--max-buckets").map(_.toInt).getOrElse(Int.MaxValue)
      val report = graft.io.Checkpoint.runResumable(
        pages.toDF(), "url", "docId", n, ckptDir, maxBuckets = maxB) { df =>
        if (fusedMode) KgPipeline.triplesFused(df.as[Page], fusedCfg, LexiconScorer()).toDF()
        else {
          val pd = linkStage(parseAndTranslate(df.as[Page]))
          KgPipeline.triples(KgPipeline.samples(pd, cfg), LexiconScorer()).toDF()
        }
      }
      println(s"""{"checkpoint":"$ckptDir","processed":${report.processedBuckets.size},""" +
        s""""skipped":${report.skippedBuckets},"rows":${report.rowsWritten}}""")
      spark.stop()
      return
    }

    // --link lsh (unchekpointed): distributed minhash-LSH surface-form
    // linking (near-duplicate values share a group — P9 at scale)
    lazy val parsed =
      if (linkLsh) Linker.withLshGroups(parseAndTranslate(pages).persist())
      else parseAndTranslate(pages)
    lazy val samples = KgPipeline.samples(parsed, cfg).persist()
    val scorer = LexiconScorer()
    val triples =
      if (fusedMode) KgPipeline.triplesFused(pages, fusedCfg, scorer)
      else KgPipeline.triples(samples, scorer)

    if (!fusedMode) {
      val preds = KgPipeline.predictions(samples, scorer)
      KgPipeline.contentsCompat(samples).write.mode(SaveMode.Overwrite).parquet(s"$out/contents")
      KgPipeline.predictionsOneHot(preds).write.mode(SaveMode.Overwrite).parquet(s"$out/predict")
    }
    triples.write.mode(SaveMode.Overwrite).parquet(s"$out/triples")

    // --changelog-store DIR --batch-id B --asof-ts T: versioned-KG feed —
    // this crawl's distinct typed triples become 'add' entries at T, and
    // every triple LIVE in the store before T but absent from this crawl is
    // retracted ('del' at T): the crawl-diff that keeps a continuously
    // re-crawled KG queryable at any point in time (ChangelogStore.snapshot)
    opts.get("--changelog-store").foreach { storeDir =>
      import org.apache.spark.sql.functions.{col, concat, lit}
      val batchId = opts.getOrElse("--batch-id",
        sys.error("--changelog-store requires --batch-id (the idempotent-retry token)"))
      val ts = opts.getOrElse("--asof-ts",
        sys.error("--changelog-store requires --asof-ts (deterministic epoch seconds)")).toLong
      val current = spark.read.parquet(s"$out/triples")
        .select(concat(col("subjType"), lit("."), col("subj")).as("s"),
          col("pred").as("p"),
          concat(col("objType"), lit("."), col("obj")).as("o"))
        .distinct().localCheckpoint() // consumed twice (adds + retract anti-join)
      val adds = current.select(col("s"), col("p"), col("o"),
        lit(ts).as("ts"), lit("add").as("op"))
      val entries =
        if (!graft.ops.ChangelogStore.exists(spark, storeDir)) adds
        else {
          val dels = graft.ops.ChangelogStore.snapshot(spark, storeDir, ts - 1)
            .join(current, Seq("s", "p", "o"), "left_anti")
            .select(col("s"), col("p"), col("o"), lit(ts).as("ts"), lit("del").as("op"))
          adds.unionByName(dels).localCheckpoint() // plan reads the store the merge swaps
        }
      val merged = graft.ops.ChangelogStore.merge(entries, storeDir, batchId)
      println(s"""{"changelog_store":"$storeDir","batch":"$batchId","merged":$merged,""" +
        s""""asserted":${current.count()}}""")
    }

    // graph build, aggregate-first (GraphBuilder.tripleEdges): the WRITTEN
    // triples collapse once to their typed multiplicities, the type map, node
    // keys and edge counts come from that small relation, and the graph is
    // finished on the driver from one collect
    val minLinks = opts.getOrElse("--min-links", "1").toDouble
    val name = opts.getOrElse("--name", "pages")
    val built = GraphBuilder.tripleEdges(spark.read.parquet(s"$out/triples"))
    // --edge-store: fold this batch's UNFILTERED edge counts into the
    // persistent store (exactly-once per --batch-id) and build the graph from
    // the ACCRETED state — the continuous-crawl KG maintenance surface. Node
    // keys use this batch's value->type map; cross-batch key stability holds
    // when types are deterministic per value (true for annotated-page NER).
    val edges = (opts.get("--edge-store") match {
      case Some(storeDir) =>
        val batchId = opts.getOrElse("--batch-id",
          sys.error("--edge-store requires --batch-id (the idempotent-retry token)"))
        if (!graft.ops.EdgeStore.merge(built.state, storeDir, batchId))
          System.err.println(s"batch '$batchId' already in $storeDir ledger; fold skipped (idempotent retry)")
        graft.ops.EdgeStore.edges(spark, storeDir, minLinks)
      case None => GraphBuilder.edgesFromState(built.state, minLinks)
    }).persist() // the guard count and the one collect (or JSON write) share it
    // --ntriples y: RDF dump of the aggregated edges next to the graph JSON —
    // a distributed sharded-.nt write (never collects), the triple-store
    // bulk-load artifact
    if (opts.get("--ntriples").exists(_ == "y"))
      graft.io.Sinks.ntriples(graft.graph.Rdf.ntriples(edges), s"$out/ntriples")
    // Guard the driver collect: post-aggregation graphs are normally small, but
    // with --min-links 1 at web scale the edge set need not be driver-sized.
    // Above the cap, write the graph distributed as JSON-lines parquet-side files
    // instead of one pretty d3js file.
    val maxEdges = opts.getOrElse("--max-collected-edges", "2000000").toLong
    val nEdges = edges.count()
    val graph = if (nEdges > maxEdges) {
      edges.write.mode(SaveMode.Overwrite).json(s"$out/force_edges_json")
      GraphBuilder.nodes(edges).write.mode(SaveMode.Overwrite).json(s"$out/force_nodes_json")
      System.err.println(s"graph too large to collect ($nEdges edges > cap $maxEdges); " +
        s"wrote distributed JSON under $out/force_{edges,nodes}_json")
      graft.core.Graph(Seq(name), s"[$name]", Seq.empty, Seq.empty)
    } else {
      val g = GraphBuilder.collectedGraph(name, edges.collect().toSeq)
      D3Json.save(g, out, name, intLinkC = true, intNodeC = false)
      // reference parity: --out is an OPENABLE artifact — a viewer page next
      // to the force/radial JSON folders (backend/d3js/ui_web.py layout)
      graft.graph.Viewer.save(out, name)
      g
    }

    val nTriples = built.triples // the WRITTEN rows, summed from the multiplicities
    val nSamples = if (fusedMode) nTriples else samples.count() // fused: 1 sample == 1 triple
    println(s"""{"pages_out":"$out","samples":$nSamples,"triples":$nTriples,""" +
      s""""nodes":${graph.nodes.size},"links":${graph.links.size}}""")
    spark.stop()
    // reference parity: `--host PORT` serves the just-written artifact on a
    // local port and blocks (arelight/run/operations.py:106-107 behavior)
    opts.get("--host").foreach(p => graft.graph.Serve.serveBlocking(out, p.toInt))
  }
}
