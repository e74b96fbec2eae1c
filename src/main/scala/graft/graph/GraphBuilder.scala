package graft.graph

import org.apache.spark.sql.{Column, DataFrame}
import org.apache.spark.sql.functions._
import graft.core.{Graph, GraphLink, GraphNode}

/** Force-graph construction (reference
  * arelight/backend/d3js/relations_graph_builder.py:4-91).
  *
  * Three builds with identical math:
  *  - DataFrame operators over raw relation rows (hash aggregate with map-side
  *    partials; the endpoint value->type lookup is a broadcast join);
  *  - the aggregate-first build over a triples relation ([[tripleEdges]],
  *    what `graft.cli.Infer` runs): the triples collapse once to their typed
  *    multiplicities, and the type map, node keys and edge counts are all
  *    computed on that small relation; [[collectedGraph]] finishes a
  *    driver-sized edge relation with the local build's node rollup;
  *  - a pure-Scala local build replicating the reference float-for-float, used
  *    for golden tests and for the post-aggregation driver-sized graph algebra.
  */
object GraphBuilder {

  /** One raw relation row: (subjectValue, objectValue, labelString). */
  final case class Relation(source: String, target: String, sent: String)

  /** Node-key cleaning (P16, relations_graph_builder.py:14-30): strip trailing
    * dots, then mask '.' as '·' (the dot is the TYPE.value separator).
    * The reference IndexErrors on a value of only dots; the engine maps it to
    * the empty string (conscious deviation, SURVEY.md §7.4). */
  def cleanValue(v: String): String =
    v.replaceAll(raw"\.+$$", "").replace('.', '·')

  def cleanValueCol(c: Column): Column =
    translate(regexp_replace(c, raw"\.+$$", ""), ".", "·")

  /** Node-key composition (P17): `TYPE.cleanedValue`, UNKNOWN when the value is
    * missing from the entity type map. */
  def nodeKey(tpe: Option[String], value: String): String =
    s"${tpe.getOrElse("UNKNOWN")}.${cleanValue(value)}"

  // ---------------------------------------------------------------- DataFrame

  /** Entity value->type dictionary from per-sample parallel arrays (J2).
    * Reference semantics: dict overwrite while flattening all samples in order —
    * LAST occurrence wins. `orderCol` fixes the deterministic order (e.g.
    * (docId, opinionId)); rows are exploded and the max-order row wins. */
  def entityTypeMap(samples: DataFrame, orderCol: Column): DataFrame = {
    val exploded = samples
      .withColumn("ord", orderCol)
      .select(col("ord"), posexplode(arrays_zip(col("entityValues"), col("entityTypes"))))
      .select(
        col("col.entityValues").as("value"),
        col("col.entityTypes").as("type"),
        (col("ord") * 1000000 + col("pos")).as("ord"))
    exploded
      .groupBy(col("value"))
      .agg(max_by(col("type"), col("ord")).as("type"))
  }

  /** UNFILTERED edge counts — the mergeable state behind [[edges]]:
    * (source, target, sent, cnt). The min-links HAVING must NOT be applied to
    * state that will be merged again (an edge seen once per batch but many
    * times overall would be lost), so incremental maintenance keeps this
    * relation and applies the filter only at read ([[edgesFromState]]). At
    * scale this is the Iceberg-MERGE shape: state bucketed on the group key,
    * each batch one co-partitioned merge ([[mergeEdgeState]]). */
  def edgeState(relations: DataFrame): DataFrame =
    relations
      .na.drop(Seq("source", "target", "sent")) // F4: drop nan relations
      .groupBy(col("source"), col("target"), col("sent"))
      .agg(count(lit(1)).as("cnt"))

  /** Merge a delta batch's edge counts into previous state: union + re-sum on
    * the group key (associative/commutative, so batches fold in any order). */
  def mergeEdgeState(prev: DataFrame, delta: DataFrame): DataFrame =
    prev.unionByName(delta)
      .groupBy(col("source"), col("target"), col("sent"))
      .agg(sum(col("cnt")).cast("long").as("cnt"))

  /** Evidence-diversity rollup per edge: beyond raw multiplicity, how BROAD
    * is the support — distinct documents and distinct hosts asserting the
    * edge. At web scale raw mention count is gameable (one boilerplate
    * template repeated across a single site inflates it); distinct-host
    * support is the standard spam-resistant confidence signal, mirroring
    * how [[graft.ops.WebGraph.inLinkProfile]] separates endorsement from
    * same-site navigation. Input: per-mention relation
    * (source, target, sent, doc_id, host); output adds
    * (n_mentions, n_docs, n_hosts). One shuffle on the edge key; the two
    * count-distincts share it (Expand, still a single exchange). */
  def edgeEvidence(mentions: DataFrame): DataFrame =
    mentions
      .na.drop(Seq("source", "target", "sent"))
      .groupBy(col("source"), col("target"), col("sent"))
      .agg(count(lit(1)).as("n_mentions"),
        count_distinct(col("doc_id")).as("n_docs"),
        count_distinct(col("host")).as("n_hosts"))

  /** Best-evidence provenance per edge: for each (source, target, sent),
    * the document that asserts it most often — the "show me why this edge
    * exists" sample a KG curation UI needs per published edge (the
    * reference keeps doc_id per sample row, infer.py:158-160, but never
    * rolls provenance up to the graph; this closes that gap as a
    * first-class relation). Output: (source, target, sent, top_doc,
    * top_doc_mentions, n_mentions, n_docs); top_doc is the argmax by
    * (mentions DESC, doc_id ASC) — deterministic under ties.
    *
    * Scale shape: one groupBy on (edge, doc) collapses mentions map-side;
    * the argmax + totals ride ONE window over the (edge)-partitioned
    * per-doc counts — Spark's WindowGroupLimit pushes the rank<=1 filter
    * into the window operator, so each partition keeps one row per edge
    * before any sort materializes (the same 100 TB argmax shape as
    * [[graft.ops.Dedup.keepBest]]). */
  def edgeProvenance(mentions: DataFrame): DataFrame = {
    import org.apache.spark.sql.expressions.Window
    val perDoc = mentions
      .na.drop(Seq("source", "target", "sent"))
      .groupBy(col("source"), col("target"), col("sent"), col("doc_id"))
      .agg(count(lit(1)).as("n"))
    val w = Window.partitionBy(col("source"), col("target"), col("sent"))
    perDoc
      .withColumn("rn", row_number().over(w.orderBy(col("n").desc, col("doc_id").asc)))
      .withColumn("n_mentions", sum(col("n")).over(w))
      .withColumn("n_docs", count(lit(1)).over(w))
      .filter(col("rn") === 1)
      .select(col("source"), col("target"), col("sent"),
        col("doc_id").as("top_doc"), col("n").as("top_doc_mentions"),
        col("n_mentions"), col("n_docs"))
  }

  /** Temporal rollup per edge over the observation timestamp (epoch
    * seconds, e.g. the BASELINE input shape's warc_ts): when was the edge
    * first and last asserted, and on how many distinct UTC days — the
    * temporal-KG maintenance signal (edge freshness / decay candidates /
    * emerging relations) a continuously-crawling KG needs. Input:
    * (source, target, sent, ts_epoch); integer epochs end-to-end, one
    * shuffle on the edge key. */
  def edgeHistory(observations: DataFrame): DataFrame =
    observations
      .na.drop(Seq("source", "target", "sent"))
      .groupBy(col("source"), col("target"), col("sent"))
      .agg(count(lit(1)).as("n_obs"),
        min(col("ts_epoch")).as("first_seen"),
        max(col("ts_epoch")).as("last_seen"),
        count_distinct(floor(col("ts_epoch") / 86400L)).as("n_days"))

  /** Contradictory-evidence report over the triple relation: entity pairs
    * the corpus asserts with MORE THAN ONE distinct predicate — the
    * knowledge-base quality signal a KG builder triages before publishing
    * (ARElight renders one edge per (pair, sentiment) and leaves the
    * contradiction implicit in the graph; this rollup surfaces it as a
    * first-class relation, reference graph_ops has no counterpart). Output
    * per conflicted (source, target): the three per-polarity evidence
    * counts, total observations, the dominant label (max count, ties to the
    * lexicographically smallest label), and `conflict_permille` = the share
    * of observations that contradict the dominant label, in exact integer
    * permille (1000 * (n_obs - max_count) div n_obs). One shuffle on the
    * pair key with map-side partial aggregation; the conflict filter and
    * permille math are post-aggregation row-local. */
  /** Stance-drift detection over the timestamped observation stream: per
    * entity pair, does the MOST RECENT assertion disagree with the
    * historical consensus? `dominant` = argmax label by observation count
    * (ties → smallest label, the [[conflicts]] convention); `latest_label`
    * = the label of the max-timestamp observation (timestamp ties → the
    * smallest label among those at the max); `drift` = 1 when they differ —
    * the narrative-shift signal a continuously-crawling KG flags before
    * overwriting an edge (freshness-decay reweights quietly; this SURFACES
    * the flip). One shuffle on (pair, label) with map-side partials, then
    * two tiny per-pair argmax windows over the label-level rollup.
    * Output: (source, target, n_obs, dominant, latest_label, last_seen,
    * drift). Engine extension, no reference counterpart. */
  def stanceDrift(observations: DataFrame): DataFrame = {
    import org.apache.spark.sql.expressions.Window
    val counts = observations.na.drop(Seq("source", "target", "sent"))
      .groupBy(col("source"), col("target"), col("sent"))
      .agg(count(lit(1)).as("n"), max(col("ts_epoch")).as("last_ts"))
      .withColumn("n_obs", sum(col("n")).over(
        Window.partitionBy(col("source"), col("target"))))
      .localCheckpoint()
    val dom = counts.withColumn("rn", row_number().over(
        Window.partitionBy(col("source"), col("target"))
          .orderBy(col("n").desc, col("sent").asc)))
      .filter(col("rn") === 1)
      .select(col("source"), col("target"), col("n_obs"),
        col("sent").as("dominant"))
    val latest = counts.withColumn("rn", row_number().over(
        Window.partitionBy(col("source"), col("target"))
          .orderBy(col("last_ts").desc, col("sent").asc)))
      .filter(col("rn") === 1)
      .select(col("source"), col("target"), col("sent").as("latest_label"),
        col("last_ts").as("last_seen"))
    dom.join(latest, Seq("source", "target"))
      .withColumn("drift", (col("dominant") =!= col("latest_label")).cast("long"))
  }

  /** Truth discovery over conflicting extractions (TruthFinder / Knowledge
    * Vault lineage): jointly estimate per-PROVIDER reliability and per-CLAIM
    * belief by fixed-point iteration. A claim is one asserted edge label
    * (source, target, pred); a provider (`src` — the document's host/feed)
    * VOTES for a claim once per observation. Round i:
    * `support(claim) = Σ_src trust(src)·n(src,claim)`,
    * `belief(claim)  = support·1e6 div Σ_{preds of the pair} support`
    * (beliefs over one pair's competing labels sum to ~1e6), then
    * `trust(src) = Σ belief·n div Σ n` (vote-weighted mean belief of its
    * claims — reliable providers are those that assert what the weighted
    * majority asserts). All arithmetic is scaled BIGINT with truncating
    * division, trust seeded at 500000, a FIXED `rounds` budget unrolled in
    * the oracle ([[conflicts]] reports the disagreements; this op resolves
    * them). Per round: two shuffles (claim key, provider key), both
    * post-aggregation small. Why it scales: claims and providers are both
    * aggregates — corpus size only enters through the one upstream
    * triple-extraction pass. Engine extension, no reference counterpart.
    * Input `votes`: (src, source, target, pred) observation rows.
    * Output: (src, trust, n_votes, n_claims). */
  def truthDiscovery(votes: DataFrame, rounds: Int = 2): DataFrame = {
    val v = votes.groupBy(col("src"), col("source"), col("target"), col("pred"))
      .agg(count(lit(1)).as("n"))
      .localCheckpoint()
    var trust = v.select(col("src")).distinct()
      .select(col("src"), lit(500000L).as("trust"))
    for (_ <- 1 to rounds) {
      val support = v.join(trust, "src")
        .groupBy(col("source"), col("target"), col("pred"))
        .agg(sum(col("trust") * col("n")).as("support"))
      val belief = support
        .withColumn("pairtot",
          sum(col("support")).over(org.apache.spark.sql.expressions.Window
            .partitionBy(col("source"), col("target"))))
        .select(col("source"), col("target"), col("pred"),
          expr("(support * 1000000L) div pairtot").as("belief"))
      trust = v.join(belief, Seq("source", "target", "pred"))
        .groupBy(col("src"))
        .agg(expr("sum(belief * n) div sum(n)").as("trust"))
    }
    trust.join(
      v.groupBy(col("src")).agg(sum(col("n")).as("n_votes"),
        count(lit(1)).as("n_claims")), "src")
  }

  def conflicts(triples: DataFrame): DataFrame =
    triples
      .groupBy(concat(col("subj_type"), lit("."), col("subj")).as("source"),
        concat(col("obj_type"), lit("."), col("obj")).as("target"))
      .agg(
        sum(when(col("pred") === "pos", 1L).otherwise(0L)).as("n_pos"),
        sum(when(col("pred") === "neg", 1L).otherwise(0L)).as("n_neg"),
        sum(when(col("pred") === "neu", 1L).otherwise(0L)).as("n_neu"),
        count(lit(1)).as("n_obs"),
        count_distinct(col("pred")).as("n_preds"))
      .filter(col("n_preds") >= 2)
      // argmax with ties to the smallest label: neg < neu < pos
      .withColumn("dominant",
        when(col("n_neg") >= col("n_neu") && col("n_neg") >= col("n_pos"), lit("neg"))
          .when(col("n_neu") >= col("n_pos"), lit("neu"))
          .otherwise(lit("pos")))
      .withColumn("conflict_permille",
        expr("(1000 * (n_obs - greatest(n_pos, n_neg, n_neu))) div n_obs"))
      .select(col("source"), col("target"), col("n_pos"), col("n_neg"),
        col("n_neu"), col("n_obs"), col("dominant"), col("conflict_permille"))

  /** Freshness-decayed edge weight: each observation contributes
    * `1e6 >> min(age_halflives, maxBuckets)` where age_halflives =
    * floor(age_days / halfLifeDays) — an EXACT-integer exponential decay
    * (right shift IS floor-division by 2^k on non-negatives), so recent
    * assertions dominate stale ones without any float drift between
    * engines. The recency-weighted confidence a continuously-maintained KG
    * ranks edges by (complement of [[edgeHistory]], which reports the raw
    * temporal extent). Observations dated after `nowEpoch` clamp to age 0;
    * ages past `maxBuckets` half-lives contribute 1e6 >> maxBuckets
    * (0 when maxBuckets >= 20). One shuffle on the edge key. */
  def edgeDecay(observations: DataFrame, nowEpoch: Long, halfLifeDays: Int = 7,
      maxBuckets: Int = 20): DataFrame =
    observations
      .na.drop(Seq("source", "target", "sent"))
      .withColumn("age_hl",
        least(expr(s"(greatest(${nowEpoch}L - ts_epoch, 0L) div 86400) div $halfLifeDays"),
          lit(maxBuckets.toLong)).cast("int"))
      .withColumn("contrib", expr("shiftright(1000000L, age_hl)"))
      .groupBy(col("source"), col("target"), col("sent"))
      .agg(count(lit(1)).as("n_obs"), sum(col("contrib")).as("decayed_w"))

  /** Schema profile of the materialized KG — triple and distinct-endpoint
    * counts per (subj_type, pred, obj_type) signature: the schema-induction
    * / ontology-drift report (which relation signatures exist, how
    * populated, how concentrated). One shuffle; the count-distincts share
    * it via Expand. */
  def schemaProfile(triples: DataFrame): DataFrame =
    triples.groupBy(col("subj_type"), col("pred"), col("obj_type"))
      .agg(count(lit(1)).as("n_triples"),
        count_distinct(col("subj")).as("n_subj"),
        count_distinct(col("obj")).as("n_obj"))

  /** Read the edge relation out of (possibly merged) state: min-links HAVING
    * (F5) + the weights toggle (U4). */
  def edgesFromState(state: DataFrame, minLinks: Double = 1, weights: Boolean = true): DataFrame = {
    val counted = state.filter(col("cnt") >= lit(minLinks))
    val c = if (weights) col("cnt").cast("double") else lit(1.0)
    counted.select(col("source"), col("target"), col("sent"), c.as("c"))
  }

  /** Edge relation at scale: groupBy (sourceKey, targetKey, sent) count, with
    * min-links HAVING (F5) and the weights toggle (U4). Input must already carry
    * node keys (see [[withNodeKeys]]). Output: (source, target, sent, c). */
  def edges(relations: DataFrame, minLinks: Double = 1, weights: Boolean = true): DataFrame =
    edgesFromState(edgeState(relations), minLinks, weights)

  /** Attach composed node keys to raw (source,target,sent) relation rows using a
    * broadcast value->type map (UNKNOWN fallback). Other columns of
    * `relations` pass through after `sent`. */
  def withNodeKeys(relations: DataFrame, typeMap: DataFrame): DataFrame = {
    val tm = broadcast(typeMap)
    val s = tm.withColumnRenamed("value", "s_value").withColumnRenamed("type", "s_type")
    val t = tm.withColumnRenamed("value", "t_value").withColumnRenamed("type", "t_type")
    val rest = relations.columns.filterNot(Set("source", "target", "sent")).map(relations(_))
    relations
      .join(s, relations("source") === s("s_value"), "left")
      .join(t, relations("target") === t("t_value"), "left")
      .select(Seq(
        concat_ws(".", coalesce(col("s_type"), lit("UNKNOWN")), cleanValueCol(col("source"))).as("source"),
        concat_ws(".", coalesce(col("t_type"), lit("UNKNOWN")), cleanValueCol(col("target"))).as("target"),
        col("sent")) ++ rest: _*)
  }

  // --------------------------------------------------- aggregate-first build

  /** The aggregate-first graph state of a triples relation: `state` is the
    * UNFILTERED edge state (source, target, sent, cnt), equal to
    * [[edgeState]] over the relation rows keyed with the last-occurrence type
    * map. It reads two persisted aggregates: the typed-triple multiplicities
    * `counts` (subj, subjType, obj, objType, pred, n) and the per-value type
    * summary `types`. */
  final class TripleEdges private[GraphBuilder] (
      val state: DataFrame, counts: DataFrame, types: DataFrame) {
    /** Rows of the triples relation: `counts` partitions them exactly, so
      * this needs no second scan of the triples. */
    def triples: Long =
      counts.agg(coalesce(sum(col("n")), lit(0L))).first().getLong(0)

    def unpersist(): Unit = { counts.unpersist(); types.unpersist() }
  }

  /** Persist a small aggregate at the cluster's parallelism: a cached plan
    * keeps every `spark.sql.shuffle.partitions` partition of its last shuffle
    * (adaptive execution may not coalesce it), and each later scan would pay
    * one task per partition. */
  private def persistCoalesced(df: DataFrame): DataFrame =
    df.coalesce(df.sparkSession.sparkContext.defaultParallelism).persist()

  /** Last-occurrence-wins value->type map (reference: dict overwrite in
    * flatten order, J2) with an EXPLICIT deterministic order (docId,
    * sentInd, sampleId, subj-before-obj): plain last() over an unordered
    * aggregation can flip node keys between runs/retries. */
  private def lastOccurrenceTypes(triples: DataFrame): DataFrame =
    triples.select(col("subj").as("value"), col("subjType").as("type"),
        struct(col("docId"), col("sentInd"), col("sampleId"), lit(0).as("side")).as("ord"))
      .union(triples.select(col("obj"), col("objType"),
        struct(col("docId"), col("sentInd"), col("sampleId"), lit(1).as("side"))))

  /** Aggregate-first edge state of a triples relation (subj, subjType, pred,
    * obj, objType, docId, sentInd, sampleId):
    *  1. one hash aggregation collapses the triples to their typed
    *     multiplicities (persisted: a crawl's 3.1 M triples are ~1.1 k rows);
    *  2. a value seen with exactly one type (null included) takes it; only
    *     values seen with several types scan the triples again, for the
    *     last-occurrence winner ([[lastOccurrenceTypes]]) — one small driver
    *     job decides whether any exist;
    *  3. node keys and the per-key sums of `n` are computed on the
    *     multiplicities, so raw values that clean to one key merge exactly as
    *     they do over the rows.
    * A struct-ordered `max_by` carried inside step 1 would turn its hash
    * aggregation into a sort aggregation; the fallback avoids that. */
  def tripleEdges(triples: DataFrame): TripleEdges = {
    val counts = persistCoalesced(triples
      .groupBy(col("subj"), col("subjType"), col("obj"), col("objType"), col("pred"))
      .agg(count(lit(1)).as("n")))
    // persisted: the check for multi-typed values and the type map share it
    val typed = persistCoalesced(counts.select(col("subj").as("value"), col("subjType").as("type"))
      .union(counts.select(col("obj"), col("objType")))
      .groupBy(col("value"))
      .agg(min(col("type")).as("type"), max(col("type")).as("hi"),
        max(col("type").isNull).as("hasNull")))
    // min ignores nulls: a null minimum means every occurrence is untyped
    val single = col("type").isNull || (col("type") === col("hi") && !col("hasNull"))
    val multi = typed.filter(!single).select(col("value"))
    val singles = typed.filter(single).select(col("value"), col("type"))
    val typeMap =
      if (multi.isEmpty) singles
      else singles.unionByName(lastOccurrenceTypes(triples)
        .join(multi, Seq("value"), "left_semi")
        .groupBy(col("value")).agg(max_by(col("type"), col("ord")).as("type")))
    val state = withNodeKeys(counts.select(col("subj").as("source"), col("obj").as("target"),
        col("pred").as("sent"), col("n")), typeMap)
      .na.drop(Seq("source", "target", "sent")) // F4, as in edgeState
      .groupBy(col("source"), col("target"), col("sent"))
      .agg(sum(col("n")).as("cnt"))
    new TripleEdges(state, counts, typed)
  }

  /** Node relation: degree over surviving edges, max-normalized
    * (relations_graph_builder.py:80-89). The max is computed inside the plan
    * (no driver round-trip) via a scalar cross-joined aggregate — at graph
    * cardinality (post-aggregation) this is cheap. */
  def nodes(edgeDf: DataFrame, weights: Boolean = true): DataFrame = {
    val degrees = edgeDf
      .select(explode(array(col("source"), col("target"))).as("id"))
      .groupBy("id").agg(count(lit(1)).cast("double").as("degree"))
    if (!weights) degrees.select(col("id"), lit(1.0).as("c"))
    else {
      val m = degrees.agg(max(col("degree")).as("maxd"))
      degrees.crossJoin(broadcast(m)).select(col("id"), (col("degree") / col("maxd")).as("c"))
    }
  }

  /** A2: raw mention-value frequencies over relations (the reference computes
    * this Counter and never uses it for output weights,
    * relations_graph_builder.py:35,52-53 — kept for parity audits). */
  def mentionFrequencies(relations: DataFrame): DataFrame =
    relations
      .select(explode(array(col("source"), col("target"))).as("value"))
      .groupBy("value").agg(count(lit(1)).as("freq"))

  /** F3: optional label predicate on graph-A relations
    * (arelight/pipelines/items/backend_d3js_graphs.py:26,44-46). */
  def filterLabels(relations: DataFrame, labels: Seq[String]): DataFrame =
    if (labels.isEmpty) relations else relations.filter(col("sent").isin(labels: _*))

  // -------------------------------------------------------------- local exact

  /** Exact reference replica (relations_graph_builder.py:4-91) for golden tests
    * and driver-sized graphs. `entityMap` must already encode last-wins. */
  def buildLocal(
      graphName: String,
      relations: Seq[Relation],
      entityMap: Map[String, String],
      minLinks: Double = 1,
      weights: Boolean = true): Graph = {

    def key(v: String): String = nodeKey(entityMap.get(v), v)

    val links = scala.collection.mutable.LinkedHashMap.empty[(String, String, String), Long]
    relations.foreach { r =>
      if (r != null && r.source != null && r.target != null && r.sent != null) {
        val k = (key(r.source), key(r.target), r.sent)
        links.update(k, links.getOrElse(k, 0L) + 1L)
      }
    }

    val linkSeq = links.iterator.collect { case ((s, t, sent), c) if c >= minLinks =>
      GraphLink(s, t, if (weights) c.toDouble else 1.0, sent)
    }.toSeq
    Graph(Seq(graphName), s"[$graphName]", nodeRollup(linkSeq, weights), linkSeq)
  }

  /** Node rollup over surviving links: degree (a self-pair counts twice),
    * max-normalized (relations_graph_builder.py:80-89), in first-seen order. */
  private def nodeRollup(links: Seq[GraphLink], weights: Boolean = true): Seq[GraphNode] = {
    val used = scala.collection.mutable.LinkedHashMap.empty[String, Long]
    links.foreach { l =>
      used.update(l.source, used.getOrElse(l.source, 0L) + 1L)
      used.update(l.target, used.getOrElse(l.target, 0L) + 1L)
    }
    val maxDeg = if (used.isEmpty) 0L else used.values.max
    used.iterator.map { case (id, d) =>
      GraphNode(id, if (weights) d.toDouble / maxDeg else 1.0)
    }.toSeq
  }

  /** Spark's string order: `UTF8String` compares UTF-8 bytes, which is code
    * point order. `String.compareTo` compares UTF-16 units and so sorts a
    * supplementary character (surrogates 0xD800-0xDFFF) before a high-BMP
    * one (0xE000-0xFFFF); this ordering does not. */
  val sparkStringOrdering: Ordering[String] = (a: String, b: String) => {
    var i = 0
    var j = 0
    var d = 0
    while (d == 0 && i < a.length && j < b.length) {
      val ca = a.codePointAt(i)
      val cb = b.codePointAt(j)
      d = Integer.compare(ca, cb)
      i += Character.charCount(ca)
      j += Character.charCount(cb)
    }
    if (d != 0) d else Integer.compare(a.length - i, b.length - j)
  }

  /** Driver finish of a collected edge relation (source, target, sent, c):
    * links ordered by (source, target, sent) and nodes ([[nodeRollup]]) by
    * id, both in Spark's `orderBy` order — the d3js graph [[edges]] +
    * [[nodes]] + two sorted collects would give, from one collect. */
  def collectedGraph(graphName: String, edgeRows: Seq[org.apache.spark.sql.Row]): Graph = {
    implicit val ord: Ordering[String] = sparkStringOrdering
    val links = edgeRows
      .map(r => GraphLink(r.getString(0), r.getString(1), r.getDouble(3), r.getString(2)))
      .sortBy(l => (l.source, l.target, l.sent))
    Graph(Seq(graphName), s"[$graphName]", nodeRollup(links).sortBy(_.id), links)
  }
}
