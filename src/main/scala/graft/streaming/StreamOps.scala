package graft.streaming

import org.apache.spark.sql.{DataFrame, Dataset, SparkSession}
import org.apache.spark.sql.functions._
import graft.core.{Page, Triple}
import graft.kg.{KgPipeline, Scorer}
import graft.ner.Ner

/** One closed user session ([[StreamOps.sessionsWithState]] output row).
  * `closed_by`: "gap" (a new event arrived past the gap), "cap" (maxEvents
  * reached), or "timeout" (watermark passed the idle deadline). Top-level
  * (not nested in the object): nested case classes trip Janino's method
  * resolution in the state-encoder's generated code. */
final case class UserSession(user_id: Long, start_ts: Long, end_ts: Long,
    n_events: Long, sum_value: Double, closed_by: String)

/** Per-user session state — constant size, no event buffer. */
final case class SessState(startS: Long, lastS: Long, nEv: Long, sumV: Double)

/** A pair ENTERING stance drift: its latest assertion just started
  * contradicting the count-dominant label (see GraphBuilder.stanceDrift for
  * the batch form). Top-level for the same Janino reason as UserSession. */
final case class DriftEvent(source: String, target: String, ts_epoch: Long,
    dominant: String, latest_label: String, n_obs: Long)

/** Per-pair drift state — label counts (bounded by the label alphabet) plus
  * the latest observation; no event buffer. */
final case class DriftState(counts: Map[String, Long], lastTs: Long,
    lastLabel: String, drifted: Boolean)

/** A triple's liveness CHANGING ([[StreamOps.changelogStream]] output): the
  * key became live (latest op 'add') or dead (latest op 'del') as of ts.
  * Top-level for the same Janino reason as UserSession. */
final case class LiveChange(s: String, p: String, o: String, live: Boolean,
    ts_epoch: Long)

/** Per-triple changelog state — the winning (ts, op) so far; constant size,
  * no event buffer. */
final case class LiveState(ts: Long, op: String)

/** Structured Streaming variants of the engine's operators.
  *
  * The reference is strictly bounded batch (SURVEY.md §2.8); these exist for
  * the continuous-ingest deployment shape: a pages stream (e.g. new crawl
  * segments landing in a table) flowing through the SAME row-local pipeline —
  * stateless, so it needs no watermark — plus watermarked event-stream
  * aggregations demonstrating tumbling windows and session windows.
  */
object StreamOps {

  /** Streaming KG: pages stream -> triples stream. Stateless row-local maps;
    * works under any trigger, exactly-once with a checkpointed sink. */
  def triplesStream(pages: Dataset[Page], ner: Ner, cfg: KgPipeline.Config, scorer: Scorer)(
      implicit spark: SparkSession): Dataset[Triple] =
    KgPipeline.triples(KgPipeline.samples(KgPipeline.parsePages(pages, ner, cfg), cfg), scorer)

  /** [[triplesStream]] on the fused zero-token-allocation kernel
    * (KgPipeline.triplesFused — bracket NER + lexicon scoring, renderText
    * off): the stream processes pages at the batch fast path's per-core rate.
    * Stateless, so the streaming/batch parity is structural; StreamOpsSpec
    * asserts it on a MemoryStream. */
  def triplesStreamFused(pages: Dataset[Page], cfg: KgPipeline.Config,
      scorer: graft.kg.LexiconScorer)(
      implicit spark: SparkSession): Dataset[Triple] =
    KgPipeline.triplesFused(pages, cfg, scorer)

  /** Continuous-crawl ingest: a directory where `.warc` / `.warc.gz` segment
    * files land (the Common-Crawl delivery shape) read as a binary-file
    * stream, each new file parsed by the built-in ISO 28500 reader
    * ([[graft.sources.Warc]]) into Pages — the stream that feeds
    * [[triplesStreamFused]] + [[edgeIngestStream]] for a continuously
    * accreting KG. Stateless flatMap (no watermark needed); file-source
    * exactly-once comes from the checkpointed file index. `maxFilesPerTrigger`
    * bounds per-batch work at production segment sizes. */
  def warcPagesStream(dir: String, lang: String = "en",
      maxFilesPerTrigger: Int = 16)(implicit spark: SparkSession): Dataset[Page] = {
    import spark.implicits._
    spark.readStream
      .format("binaryFile")
      // the binaryFile source's fixed schema, stated explicitly (streaming
      // file sources refuse to infer)
      .schema("path STRING, modificationTime TIMESTAMP, length LONG, content BINARY")
      .option("pathGlobFilter", "*.warc*")
      .option("maxFilesPerTrigger", maxFilesPerTrigger)
      .load(dir)
      .select(col("path"), col("content"))
      .flatMap { r =>
        val raw = r.getAs[Array[Byte]]("content")
        val plain = if (r.getString(0).endsWith(".gz")) graft.sources.Warc.gunzipAll(raw) else raw
        graft.sources.Warc.pages(plain, lang)
      }
  }

  /** Streaming RDF export: each triple of the (stateless, append-mode)
    * stream formatted as one N-Triples statement — subject/object node IRIs
    * under the TYPE.value key rule, predicate from the sentiment label.
    * Map-side only (the [[graft.graph.Rdf]] literal-replace encode chain), so
    * it composes with any trigger and an append file sink gives sharded .nt
    * exactly-once under a checkpoint. Output: one `line` column. */
  def ntriplesStream(triples: Dataset[Triple], base: String = "urn:graft"): DataFrame =
    graft.graph.Rdf.ntriples(
      triples.toDF().select(
        concat_ws(".", col("subjType"),
          graft.graph.GraphBuilder.cleanValueCol(col("subj"))).as("source"),
        concat_ws(".", col("objType"),
          graft.graph.GraphBuilder.cleanValueCol(col("obj"))).as("target"),
        col("pred").as("sent")))
      .select(col("line"))

  /** Custom-state sessionization via `flatMapGroupsWithState` — the state
    * rung session_window can't express: sessions close on a 30-min gap OR an
    * event-count cap, and idle sessions flush by event-time timeout when the
    * watermark passes their deadline. Per-user state is CONSTANT
    * (start/last/n/sum — no event buffer), so state size is #active-users,
    * not #events: the bounded-state discipline at 10^9 users. Within a
    * micro-batch events sort by timestamp in the group function (the
    * iterator carries no order guarantee), so emissions are deterministic
    * for a given batch decomposition. */
  def sessionsWithState(events: DataFrame, gapMinutes: Int = 30, maxEvents: Int = 100)(
      implicit spark: SparkSession): Dataset[UserSession] = {
    import spark.implicits._
    import org.apache.spark.sql.streaming.{GroupStateTimeout, OutputMode}
    val gapSec = gapMinutes * 60L
    val typed = events
      .withColumn("ts", col("ts").cast("timestamp"))
      .withWatermark("ts", s"${gapMinutes * 2} minutes")
      .select(col("user_id").cast("long").as("_1"), col("ts").as("_2"),
        col("value").cast("double").as("_3"))
      .as[(Long, java.sql.Timestamp, Double)]
    typed.groupByKey(_._1)
      .flatMapGroupsWithState[SessState, UserSession](
        OutputMode.Append(), GroupStateTimeout.EventTimeTimeout()) { (uid, rows, state) =>
        val out = scala.collection.mutable.ArrayBuffer.empty[UserSession]
        if (state.hasTimedOut) {
          val s = state.get
          out += UserSession(uid, s.startS, s.lastS, s.nEv, s.sumV, "timeout")
          state.remove()
        } else {
          var cur = state.getOption
          for ((_, ts, v) <- rows.toArray.sortBy(_._2.getTime)) {
            val es = ts.getTime / 1000L
            cur match {
              case Some(s) if es - s.lastS > gapSec =>
                out += UserSession(uid, s.startS, s.lastS, s.nEv, s.sumV, "gap")
                cur = Some(SessState(es, es, 1L, v))
              case Some(s) =>
                val ns = SessState(s.startS, es, s.nEv + 1L, s.sumV + v)
                if (ns.nEv >= maxEvents) {
                  out += UserSession(uid, ns.startS, ns.lastS, ns.nEv, ns.sumV, "cap")
                  cur = None
                } else cur = Some(ns)
              case None => cur = Some(SessState(es, es, 1L, v))
            }
          }
          cur match {
            case Some(s) =>
              state.update(s)
              state.setTimeoutTimestamp((s.lastS + gapSec) * 1000L)
            case None => state.remove()
          }
        }
        out.iterator
      }
  }

  /** Tumbling 1h windowed counts per event type with a 2h watermark
    * (late data beyond the watermark is dropped, state is bounded). */
  def eventsHourly(events: DataFrame): DataFrame =
    events
      .withColumn("ts", col("ts").cast("timestamp"))
      .withWatermark("ts", "2 hours")
      .groupBy(window(col("ts"), "1 hour"), col("event_type"))
      .agg(count(lit(1)).as("n_events"),
        sum(col("value").cast("decimal(18,6)")).cast("double").as("sum_value"))
      .select(col("window.start").as("hour_start"), col("event_type"),
        col("n_events"), col("sum_value"))

  /** Streaming graph-edge aggregation: windowed counts over the triple stream
    * keyed by (source, target, sent) — the continuous counterpart of the A1
    * edge multiplicity count (GraphBuilder.edges); each closed window emits a
    * force-graph edge increment. State bounded by the watermark; node keys
    * composed with the same TYPE.value rule (P17). */
  def edgesStream(triples: DataFrame, tsCol: String,
      window_ : String = "1 hour", watermark: String = "2 hours"): DataFrame =
    triples
      .withColumn("ts", col(tsCol).cast("timestamp"))
      .withWatermark("ts", watermark)
      .groupBy(window(col("ts"), window_),
        concat_ws(".", col("subjType"), graft.graph.GraphBuilder.cleanValueCol(col("subj"))).as("source"),
        concat_ws(".", col("objType"), graft.graph.GraphBuilder.cleanValueCol(col("obj"))).as("target"),
        col("pred").as("sent"))
      .agg(count(lit(1)).cast("double").as("c"))
      .select(col("window.start").as("window_start"), col("source"), col("target"),
        col("sent"), col("c"))

  /** Streaming exact dedup — the continuous-ingest counterpart of
    * graft.ops.Dedup.exact: keep the FIRST document per content hash, with
    * state bounded by the watermark (a duplicate arriving within the watermark
    * horizon is dropped even across micro-batches; later re-crawls of old
    * content re-enter, which is the standard bounded-state trade-off). */
  def dedupExactStream(docs: DataFrame, textCol: String, tsCol: String,
      watermark: String = "1 hour"): DataFrame =
    docs
      .withColumn("ts", col(tsCol).cast("timestamp"))
      .withColumn("text_hash", md5(col(textCol).cast("binary")))
      .withWatermark("ts", watermark)
      .dropDuplicatesWithinWatermark("text_hash")

  /** In-stream watermarked NEAR-duplicate candidate pairs — minhash band
    * signatures (map-side, graft.ops.Dedup.bandSignatures) feeding a
    * stream-stream self-join on the (band, sig) bucket key, bounded to pairs
    * whose event times lie within `horizon` of each other. Completes the
    * streaming dedup family: [[dedupExactStream]] (exact, bounded state),
    * [[dedupIngestStream]] (unbounded history via the signature store), and
    * this — near-dups detected wholly in-stream, join state bounded by the
    * watermark. Inside one horizon the emitted pair set equals the batch
    * candidate generator (Dedup.minhashCandidates) on the same documents —
    * asserted by StreamOpsSpec; a downstream Jaccard verify stays the
    * caller's precision stage exactly as in batch. Pairs sharing several
    * bands are collapsed by a watermarked dedup on the pair key (chained
    * stateful operators, append mode). Output: (a_id, b_id, ts) with
    * a_id < b_id and ts = the a-side event time. */
  def dedupMinhashStream(docs: DataFrame, textCol: String, idCol: String,
      tsCol: String, watermark: String = "1 hour", horizon: String = "1 hour",
      bands: Int = 8, shingleW: Int = 3, rowsPerBand: Int = 2): DataFrame = {
    import graft.ops.Dedup
    val based = docs.select(col(idCol).as("id"),
      col(tsCol).cast("timestamp").as("ts"),
      transform(Dedup.shingles(Dedup.tokens(col(textCol)), shingleW),
        h => Dedup.baseHash(h)).as("base"))
    val sigs = Dedup.bandSignatures(based, bands, rowsPerBand)
    val a = sigs.select(col("id").as("a_id"), col("ts").as("a_ts"),
      col("band").as("a_band"), col("sig").as("a_sig")).withWatermark("a_ts", watermark)
    val b = sigs.select(col("id").as("b_id"), col("ts").as("b_ts"),
      col("band").as("b_band"), col("sig").as("b_sig")).withWatermark("b_ts", watermark)
    a.join(b, expr(
        s"""a_band = b_band AND a_sig = b_sig AND a_id < b_id AND
           |b_ts BETWEEN a_ts - INTERVAL $horizon AND a_ts + INTERVAL $horizon""".stripMargin))
      .select(col("a_id"), col("b_id"), col("a_ts").as("ts"))
      // no fresh withWatermark here: ts (= a_ts) already carries the join
      // input's watermark, which PROPAGATES through chained stateful
      // operators — redefining it on the join output is disallowed
      .dropDuplicatesWithinWatermark("a_id", "b_id")
  }

  /** Continuous-ingest dedup with UNBOUNDED history: each micro-batch is
    * exact-deduped within itself (keep min id per content hash), then probed
    * against the persistent [[graft.ops.SigStore]] (exact md5 anti-join +
    * shared-band near-dup probe over constant-size-per-doc state), survivors
    * are appended to `outPath` and their signatures to the store. The
    * complement of [[dedupExactStream]]: that one bounds state by a watermark
    * (old content can re-enter); this one's horizon is the full corpus
    * history at ~1e-4 of corpus bytes.
    *
    * Delivery: the foreachBatch body is at-least-once on retry — a crash
    * between the parquet append and the signature append can re-emit one
    * micro-batch's survivors. The signature append itself is idempotent for
    * DEDUP purposes (duplicate signatures only repeat bucket members), so the
    * dedup decision stays correct; exactly-once output requires an atomic
    * sink (e.g. the io.Checkpoint partition-overwrite pattern). */
  def dedupIngestStream(docs: DataFrame, textCol: String, idCol: String,
      store: String, outPath: String, checkpoint: String,
      params: graft.ops.SigStore.Params = graft.ops.SigStore.Params(),
      minBands: Int = 1, maxBucketSize: Int = Int.MaxValue)(
      implicit spark: SparkSession): org.apache.spark.sql.streaming.StreamingQuery =
    docs.writeStream
      .option("checkpointLocation", checkpoint)
      .foreachBatch { (batch: DataFrame, _: Long) =>
        val internal = batch
          .withColumn("__h", md5(col(textCol).cast("binary")))
          .withColumn("__rn", row_number().over(
            org.apache.spark.sql.expressions.Window.partitionBy(col("__h")).orderBy(col(idCol))))
          .filter(col("__rn") === 1).drop("__h", "__rn")
        val fresh =
          if (graft.ops.SigStore.exists(batch.sparkSession, store))
            graft.ops.SigStore.filterNew(internal, col(textCol), col(idCol), store,
              params, minBands, maxBucketSize)
          else internal
        val freshP = fresh.persist()
        try {
          freshP.write.mode(org.apache.spark.sql.SaveMode.Append).parquet(outPath)
          graft.ops.SigStore.append(freshP, col(textCol), col(idCol), store, params)
        } finally { freshP.unpersist(); () }
      }
      .start()

  /** Continuous KG maintenance with UNBOUNDED history: each micro-batch's
    * keyed relation rows (source, target, sent — node keys already composed,
    * e.g. [[edgesStream]]'s grouping keys or
    * [[graft.graph.GraphBuilder.withNodeKeys]]) fold their UNFILTERED edge
    * counts into the persistent [[graft.ops.EdgeStore]]; the min-links HAVING
    * applies only when the graph is read out (EdgeStore.edges). The graph-side
    * complement of [[dedupIngestStream]]: state is edge-cardinality-sized, and
    * unlike [[edgesStream]] (whose windows close and emit increments) the
    * store's counts span the full corpus history.
    *
    * Delivery is EXACTLY-once, not at-least-once: Structured Streaming
    * re-runs a failed epoch under the SAME batch id, and EdgeStore's batch
    * ledger (committed atomically with the folded state) turns the retry into
    * a no-op — the canonical idempotent-foreachBatch pattern, here enforced
    * by the store itself rather than by sink convention.
    *
    * `batchPrefix` MUST be unique per checkpoint lineage: epoch numbers are
    * scoped to the checkpoint dir, so restarting against a FRESH checkpoint
    * (or running a second query into the same store) under a reused prefix
    * would collide with the ledger and the colliding micro-batches would be
    * skipped as retries. A skipped fold logs to stderr — a retry after a
    * crash is expected once, but a steady stream of skips means a prefix
    * collision is silently discarding data. EdgeStore is single-writer; do
    * not point two concurrent queries at one store (see EdgeStore.merge). */
  def edgeIngestStream(relations: DataFrame, store: String, checkpoint: String,
      batchPrefix: String)(
      implicit spark: SparkSession): org.apache.spark.sql.streaming.StreamingQuery =
    relations.writeStream
      .option("checkpointLocation", checkpoint)
      .foreachBatch { (batch: DataFrame, epoch: Long) =>
        if (!graft.ops.EdgeStore.merge(
            graft.graph.GraphBuilder.edgeState(batch), store, s"$batchPrefix-$epoch"))
          System.err.println(s"[edgeIngestStream] batch '$batchPrefix-$epoch' already in " +
            s"$store ledger; fold skipped (crash retry, or a batchPrefix collision " +
            "with a different checkpoint lineage — the latter loses data)")
        ()
      }
      .start()

  /** Continuous KG versioning: an add/retract entry stream (s, p, o, ts, op)
    * appends each micro-batch into the persistent
    * [[graft.ops.ChangelogStore]] exactly-once via the epoch-ledger path —
    * the durable counterpart of [[changelogStream]]'s in-state liveness
    * mirror. Downstream, `ChangelogStore.snapshot(store, t)` serves any
    * point-in-time KG and `ChangelogStore.compact` bounds history, so a
    * continuously-crawled corpus gets versioned triples with no batch
    * recompute. */
  def changelogIngestStream(log: DataFrame, store: String, checkpoint: String,
      batchPrefix: String)(
      implicit spark: SparkSession): org.apache.spark.sql.streaming.StreamingQuery =
    log.writeStream
      .option("checkpointLocation", checkpoint)
      .foreachBatch { (batch: DataFrame, epoch: Long) =>
        if (!graft.ops.ChangelogStore.merge(batch, store, s"$batchPrefix-$epoch"))
          System.err.println(s"[changelogIngestStream] batch '$batchPrefix-$epoch' " +
            s"already in $store ledger; fold skipped (crash retry, or a batchPrefix " +
            "collision with a different checkpoint lineage — the latter loses data)")
        ()
      }
      .start()

  /** Continuous web-graph maintenance: a stream of crawled pages flows
    * through [[graft.ops.WebGraph.extractLinks]] (row-local, so the stateless
    * stream stays stateless) into the host-coarsened link relation, and each
    * micro-batch's host-pair counts fold into the persistent
    * [[graft.ops.EdgeStore]] exactly-once via [[edgeIngestStream]]'s
    * epoch-ledger path. Downstream, `EdgeStore.edges(store)` +
    * [[graft.graph.GraphOps.pageRank]] (or `RankStore.advance` for the
    * warm-start variant) re-derive host authority at any cadence — crawl to
    * continuously-refreshed PageRank with no batch recompute of history. The
    * `sent` key is the constant "href" so link counts share EdgeStore's
    * (source, target, sent) state schema with KG relations without
    * colliding with them. */
  def linkIngestStream(pages: DataFrame, store: String, checkpoint: String,
      batchPrefix: String)(
      implicit spark: SparkSession): org.apache.spark.sql.streaming.StreamingQuery = {
    val links = graft.ops.WebGraph.extractLinks(pages, col("html"), col("url"))
    val relations = links.select(
      graft.ops.UrlOps.hostOf(col("src")).as("source"),
      graft.ops.UrlOps.hostOf(col("dst")).as("target"),
      lit("href").as("sent"))
    edgeIngestStream(relations, store, checkpoint, batchPrefix)
  }

  /** Continuous frontier maintenance — the crawl-scheduler sibling of
    * [[linkIngestStream]]: each crawl micro-batch's discovered links fold
    * into the persistent [[graft.ops.EdgeStore]] as `(dst url, src host,
    * "inlink")` count rows (exactly-once by epoch ledger), so
    * [[graft.ops.WebGraph.frontierFromStore]] can answer "what should we
    * fetch next" at any cadence without rescanning crawl history. State is
    * one row per (discovered url, linking host) — the crawler's frontier
    * DB, compacted by EdgeStore's merge on every fold. */
  def frontierIngestStream(pages: DataFrame, store: String, checkpoint: String,
      batchPrefix: String)(
      implicit spark: SparkSession): org.apache.spark.sql.streaming.StreamingQuery = {
    val links = graft.ops.WebGraph.extractLinks(pages, col("html"), col("url"))
    edgeIngestStream(links.select(
      col("dst").as("source"),
      graft.ops.UrlOps.hostOf(col("src")).as("target"),
      lit("inlink").as("sent")), store, checkpoint, batchPrefix)
  }

  /** Continuous mirror detection — the content-dedup sibling of
    * [[frontierIngestStream]]: each crawl micro-batch folds its pages'
    * `(host, text-md5 fingerprint, "fp")` rows into the persistent
    * [[graft.ops.EdgeStore]] (exactly-once by epoch ledger), so
    * [[graft.ops.WebGraph.mirrorHostsFromStore]] can report syndication /
    * mirror host pairs over the WHOLE crawl history at any cadence. State
    * is one row per distinct (host, fingerprint) with an observation count
    * — ~one row per unique page per host, compacted on every fold. */
  def fpIngestStream(pages: DataFrame, store: String, checkpoint: String,
      batchPrefix: String)(
      implicit spark: SparkSession): org.apache.spark.sql.streaming.StreamingQuery =
    edgeIngestStream(pages.filter(col("text").isNotNull).select(
      graft.ops.UrlOps.hostOf(col("url")).as("source"),
      md5(col("text").cast("binary")).as("target"),
      lit("fp").as("sent")), store, checkpoint, batchPrefix)

  /** Continuous quantizer maintenance: each micro-batch of vectors folds
    * into the persistent [[graft.ops.CentroidStore]] under the store's
    * CURRENT derived centroids (the mini-batch k-means step). Sums need
    * exactly-once like edge counts, so the epoch-derived batch id rides
    * CentroidStore's ledger — retry-stable by construction. The store must
    * already be initialized ([[graft.ops.CentroidStore.init]] on a seed
    * batch): a quantizer cannot be trained on data it hasn't seen. */
  def vecIngestStream(vectors: DataFrame, idCol: String, vecCol: String,
      store: String, checkpoint: String, batchPrefix: String)(
      implicit spark: SparkSession): org.apache.spark.sql.streaming.StreamingQuery =
    vectors.writeStream
      .option("checkpointLocation", checkpoint)
      .foreachBatch { (batch: DataFrame, epoch: Long) =>
        if (!graft.ops.CentroidStore.ingest(batch, col(idCol), col(vecCol),
            store, s"$batchPrefix-$epoch"))
          System.err.println(s"[vecIngestStream] batch '$batchPrefix-$epoch' already in " +
            s"$store ledger; fold skipped")
        ()
      }
      .start()

  /** Continuous distinct-count monitoring: each micro-batch's HLL registers
    * ([[graft.ops.Sketches.hllRegisters]]) fold into the persistent register
    * store by register max. Because max-merge is idempotent AND commutative,
    * epoch retries and out-of-order folds are harmless — this is the one
    * ingest stream where at-least-once delivery IS exactly-once with no
    * batch ledger at all (contrast [[edgeIngestStream]], whose counts need
    * EdgeStore's ledger). State is ≤2^p rows for the whole corpus history:
    * the live "how many distinct pages have we ever ingested" gauge. */
  def hllIngestStream(docs: DataFrame, textCol: String, store: String,
      checkpoint: String, p: Int = 8)(
      implicit spark: SparkSession): org.apache.spark.sql.streaming.StreamingQuery =
    docs.writeStream
      .option("checkpointLocation", checkpoint)
      .foreachBatch { (batch: DataFrame, _: Long) =>
        graft.ops.Sketches.mergeRegistersIntoStore(
          graft.ops.Sketches.hllRegisters(batch, col(textCol), p), store, p)
      }
      .start()

  /** Streaming stance-drift monitor — the continuous form of
    * GraphBuilder.stanceDrift: per entity pair, maintain the per-label
    * observation counts and the latest observation, and emit ONE
    * [[DriftEvent]] each time the pair ENTERS drift (its latest label
    * starts contradicting the count-dominant label; it must re-align
    * before it can fire again — an edge-triggered alert, not a level).
    * State is constant per pair (a label-alphabet-bounded count map plus
    * the latest observation), so state size is #active-pairs, not
    * #observations. Within a micro-batch rows sort by (ts, label) so
    * emissions are deterministic for a given batch decomposition, and the
    * latest-tie rule (same max ts → smallest label) matches the batch op.
    * Input columns: source, target, sent, ts_epoch. */
  def stanceDriftStream(obs: DataFrame)(
      implicit spark: SparkSession): Dataset[DriftEvent] = {
    import spark.implicits._
    import org.apache.spark.sql.streaming.{GroupStateTimeout, OutputMode}
    val typed = obs.select(col("source").cast("string"), col("target").cast("string"),
        col("sent").cast("string"), col("ts_epoch").cast("long"))
      .as[(String, String, String, Long)]
    typed.groupByKey(r => (r._1, r._2))
      .flatMapGroupsWithState[DriftState, DriftEvent](
        OutputMode.Append(), GroupStateTimeout.NoTimeout()) { case ((src, tgt), rows, state) =>
        val out = scala.collection.mutable.ArrayBuffer.empty[DriftEvent]
        var s = state.getOption.getOrElse(
          DriftState(Map.empty, Long.MinValue, "", drifted = false))
        for (r <- rows.toArray.sortBy(r => (r._4, r._3))) {
          val (lbl, ts) = (r._3, r._4)
          val counts = s.counts.updated(lbl, s.counts.getOrElse(lbl, 0L) + 1L)
          val (latestTs, latestLbl) =
            if (ts > s.lastTs || s.lastLabel.isEmpty) (ts, lbl)
            else if (ts == s.lastTs && lbl < s.lastLabel) (ts, lbl)
            else (s.lastTs, s.lastLabel)
          val dominant = counts.minBy { case (l, n) => (-n, l) }._1
          val drift = dominant != latestLbl
          if (drift && !s.drifted)
            out += DriftEvent(src, tgt, latestTs, dominant, latestLbl,
              counts.valuesIterator.sum)
          s = DriftState(counts, latestTs, latestLbl, drift)
        }
        state.update(s)
        out.iterator
      }
  }

  /** Streaming KG versioning — the continuous form of
    * [[graft.ops.Changelog.asOfSnapshot]]: an add/retract triple stream
    * (s, p, o, ts_epoch, op) maintains each key's winning (latest-ts,
    * del-wins-ties) entry in keyed state and emits a [[LiveChange]] row
    * exactly when a key's LIVENESS flips (first add → live; a newer del →
    * dead; a newer add after a del → live again). Late or duplicate entries
    * older than the state's winner are absorbed silently — the same
    * semantics the batch operator derives with its struct-max, so a
    * stream-maintained mirror and a batch recompute agree row-for-row.
    * State is one (ts, op) per live-or-ever-seen key — constant per key, no
    * event buffer; exactly-once with a checkpointed sink. */
  def changelogStream(log: DataFrame)(
      implicit spark: SparkSession): Dataset[LiveChange] = {
    import spark.implicits._
    import org.apache.spark.sql.streaming.{GroupStateTimeout, OutputMode}
    val typed = log.select(col("s").cast("string"), col("p").cast("string"),
        col("o").cast("string"), col("ts").cast("long"), col("op").cast("string"))
      .as[(String, String, String, Long, String)]
    typed.groupByKey(r => (r._1, r._2, r._3))
      .flatMapGroupsWithState[LiveState, LiveChange](
        OutputMode.Append(), GroupStateTimeout.NoTimeout()) { case ((s, p, o), rows, state) =>
        val cur = state.getOption.orNull
        // the batch contributes ONE winner (its struct-max): intermediate
        // same-batch churn is invisible between micro-batches, exactly as a
        // batch recompute over the same log would see it
        val (ts, op) = rows.map(r => (r._4, r._5)).max
        val newer = cur == null || ts > cur.ts || (ts == cur.ts && op > cur.op)
        if (!newer) Iterator.empty
        else {
          state.update(LiveState(ts, op))
          val wasLive = cur != null && cur.op == "add"
          val isLive = op == "add"
          if (isLive != wasLive) Iterator.single(LiveChange(s, p, o, isLive, ts))
          else Iterator.empty
        }
      }
  }

  /** 30-minute-gap sessions per user via the native session_window operator
    * (the streaming counterpart of Relational.eventsSessions). */
  def eventsSessions(events: DataFrame): DataFrame =
    events
      .withColumn("ts", col("ts").cast("timestamp"))
      .withWatermark("ts", "2 hours")
      .groupBy(session_window(col("ts"), "30 minutes"), col("user_id"))
      .agg(count(lit(1)).as("n_events"))
      .select(col("session_window.start").as("session_start"),
        col("session_window.end").as("session_end"),
        col("user_id"), col("n_events"))
}
