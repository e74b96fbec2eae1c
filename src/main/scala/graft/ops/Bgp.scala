package graft.ops

import org.apache.spark.sql.DataFrame
import org.apache.spark.sql.functions._

/** SPARQL-style basic-graph-pattern (BGP) matching over an (s, p, o) triple
  * relation — the KG CONSUMER's query primitive: once the pipeline has
  * materialized triples, "find all (x, y, z) such that x→pos→y and y→neg→z"
  * is a conjunctive pattern query, not bespoke code. Engine extension;
  * reference anchor: none (ARElight materializes the d3js graph and stops —
  * `arelight/run/operations.py` offers only whole-graph algebra).
  *
  * Plan shape (the 100 TB story): each pattern compiles to a FILTERED SCAN
  * of the triple relation — constants become pushed-down predicates on the
  * columnar store, so a pattern touching one predicate reads one predicate's
  * row group stripes, never the whole KG. Patterns then chain with
  * equi-joins on shared variables (classic left-deep BGP join), each a hash
  * join on the binding columns. A pattern sharing NO variable with the
  * already-joined prefix would be a cartesian product; rejected fail-fast
  * (reorder the pattern list so every step connects — the caller knows the
  * query's join graph).
  */
object Bgp {

  /** One triple pattern. Each position is a variable (leading '?') or a
    * constant; a variable repeated WITHIN a pattern (e.g. `Pat("?x", "likes",
    * "?x")`) constrains those positions equal. The predicate position
    * additionally supports two SPARQL property-path forms:
    *   - `"^pred"` — inverse path: `Pat(s, "^p", o)` matches exactly where
    *     `Pat(o, "p", s)` does (subject/object roles swapped);
    *   - `"!p1|p2|…"` — negated property set: matches any triple whose
    *     predicate is NOT one of the listed ones (`!^…` inside a negated set
    *     is not supported — split the query instead). */
  final case class Pat(s: String, p: String, o: String)

  private def isVar(t: String): Boolean = t.startsWith("?")

  /** True when re-evaluating `df` is cheap because every node of its
    * analyzed plan is a narrow operator over already-materialized data —
    * in-memory checkpoint blocks (LogicalRDD) or literal rows
    * (LocalRelation) under any stack of Project / Filter / SubqueryAlias /
    * Union. Joins, aggregates and source scans are NOT cheap: a view-
    * maintenance entry point must truncate those once rather than
    * re-evaluate them per downstream reference. */
  private[ops] def cheaplyDerived(df: DataFrame): Boolean = {
    import org.apache.spark.sql.catalyst.plans.logical
    def ok(p: logical.LogicalPlan): Boolean = p match {
      case _: org.apache.spark.sql.execution.LogicalRDD => true
      case _: logical.LocalRelation => true
      case _: logical.Project | _: logical.Filter | _: logical.SubqueryAlias |
           _: logical.Union => p.children.forall(ok)
      case _ => false
    }
    ok(df.queryExecution.analyzed)
  }

  /** Truncate lineage for a relation about to be referenced many times —
    * unless the input is already [[cheaplyDerived]], in which case a second
    * localCheckpoint would only copy materialized blocks (double the block
    * storage at 10^12-triple scale) for zero re-evaluation savings. */
  private def truncated(df: DataFrame): DataFrame =
    if (cheaplyDerived(df)) df else df.localCheckpoint()

  /** Bindings of one pattern against the relation: constants filtered,
    * variables projected (deduplicated — set semantics per pattern, so a
    * projection that drops distinguishing columns cannot carry
    * multiplicities into the join). Inverse (`^p`) patterns are normalized
    * by swapping the subject/object terms; a negated set (`!p1|p2`) becomes
    * a NOT IN predicate on the scan (still pushdown-eligible). Returns
    * (bindings, variable names). */
  private def one(rel: DataFrame, pat: Pat, dedup: Boolean = true): (DataFrame, Seq[String]) = {
    val p = if (pat.p.startsWith("^")) Pat(pat.o, pat.p.drop(1), pat.s) else pat
    require(!p.p.startsWith("^"), s"double inverse in pattern $pat")
    bindTerms(rel, Seq("s" -> p.s, "p" -> p.p, "o" -> p.o), dedup)
  }

  /** Whether [[one]]'s per-pattern dedup shuffle is still needed given a
    * duplicate-free input relation. With distinct (s, p, o) rows the binding
    * projection is INJECTIVE for every pattern shape — constants restrict a
    * dropped column to one value, variables are always projected, and a
    * repeated variable projects one of two equal columns — EXCEPT a negated
    * predicate set (`!p1|p2`), which keeps many predicate values but drops
    * the p column, so two distinct triples can project to one binding row.
    * Skipping the redundant distinct removes one full exchange per pattern
    * (guide §2.4: remove shuffles outright). */
  private def needsDedup(distinctInput: Boolean, pat: Pat): Boolean =
    !distinctInput || pat.p.startsWith("!")

  /** Generic pattern binder over an arbitrary (column → term) list — shared
    * by the triple and quad forms. Constants filter their column (the
    * predicate column additionally supports the `!p1|p2` negated set),
    * variables project; a variable repeated across positions constrains
    * them equal. */
  private def bindTerms(rel: DataFrame, terms: Seq[(String, String)],
      dedup: Boolean = true): (DataFrame, Seq[String]) = {
    var df = rel
    for ((c, t) <- terms if !isVar(t)) {
      if (c == "p" && t.startsWith("!")) {
        val banned = t.drop(1).split('|').toSeq
        require(banned.forall(_.nonEmpty), s"empty predicate in negated set $t")
        df = df.filter(!col("p").isin(banned: _*))
      } else df = df.filter(col(c) === t)
    }
    val varCols = terms.filter(x => isVar(x._2))
    require(varCols.nonEmpty, s"pattern $terms binds no variable")
    val byVar = varCols.groupBy(_._2)
    for ((_, occ) <- byVar if occ.length > 1; pair <- occ.map(_._1).sliding(2))
      df = df.filter(col(pair.head) === col(pair.last))
    val ordered = byVar.toSeq.sortBy(_._1)
    val projected = df.select(ordered.map { case (v, occ) => col(occ.head._1).as(v.drop(1)) }: _*)
    (if (dedup) projected.distinct() else projected, ordered.map(_._1.drop(1)))
  }

  /** One quad pattern over a named-graph relation (g, s, p, o): the SPARQL
    * `GRAPH ?g { … }` form. Every position is a variable or constant like
    * [[Pat]]; the predicate supports the same `!p1|p2` negated set (inverse
    * `^p` is a triple-form concept — swap s/o yourself in a quad). */
  final case class QPat(g: String, s: String, p: String, o: String)

  /** Conjunctive quad matching — [[matchPatterns]] lifted to named graphs.
    * Sharing the graph variable across patterns scopes the join to
    * WITHIN-graph solutions (the provenance query: "both assertions from
    * the same source document"); binding distinct graph variables instead
    * queries across graphs. Same left-deep filtered-scan join plan; the
    * graph column is just one more join key, so a relation bucketed by
    * graph id co-locates the whole chain. */
  def matchQuads(rel: DataFrame, patterns: Seq[QPat]): DataFrame =
    chain(patterns.map(q =>
      bindTerms(rel, Seq("g" -> q.g, "s" -> q.s, "p" -> q.p, "o" -> q.o))))

  /** Bounded-repetition property path (SPARQL `(p1|p2){1,maxLen}`) over the
    * triple relation — the second SPARQL query primitive after conjunctive
    * [[matchPatterns]]: endpoint pairs (x, z) connected by a DIRECTED path of
    * 1..`maxLen` hops whose every edge label is in `preds` (alternation).
    * Output (x, z, len) under set semantics PER LENGTH: one row per distinct
    * endpoint pair per path length at which it is reachable (a pair reachable
    * at lengths 1 and 3 yields two rows) — the unbounded SPARQL `+` is
    * approximated by a fixed hop budget exactly as production RPQ engines do
    * at web scale, because an unbounded closure over a 10^12-page KG is a
    * full transitive closure.
    *
    * Plan shape: the single-hop relation is the label-filtered scan (an IN
    * predicate pushed to the columnar store) deduplicated once and
    * checkpointed (each hop reuses it); every further hop is ONE equi-join of
    * the previous frontier against it, frontier deduplicated per hop so path
    * multiplicity never multiplies rows. `maxLen` is static, so the whole
    * query is a fixed left-deep hash-join chain — no recursion, no
    * driver-side iteration. Engine extension, no reference counterpart. */
  def boundedPath(rel: DataFrame, preds: Seq[String], maxLen: Int): DataFrame = {
    require(preds.nonEmpty, "empty predicate alternation")
    require(maxLen >= 1, s"maxLen must be >= 1, got $maxLen")
    val step = rel.filter(col("p").isin(preds: _*))
      .select(col("s").as("hs"), col("o").as("ho")).distinct()
      .localCheckpoint()
    var frontier = step.select(col("hs").as("x"), col("ho").as("z"))
    val perLen = collection.mutable.Buffer(frontier.withColumn("len", lit(1L)))
    for (k <- 2 to maxLen) {
      frontier = frontier.join(step, col("z") === col("hs"))
        .select(col("x"), col("ho").as("z")).distinct()
      perLen += frontier.withColumn("len", lit(k.toLong))
    }
    perLen.reduce(_ unionByName _)
  }

  /** SPARQL sequence property path (`step1/step2/…`): distinct endpoint
    * pairs (x, z) connected by following each step IN ORDER, where a step is
    * a predicate or its inverse (`"^pred"` traverses the edge backwards) —
    * the composition query ("co-supplier parts": `supplied_by/^supplied_by`;
    * "customer's supplier nations": `placed/contains/supplied_by/
    * located_in`). Each step is a predicate-filtered scan (pushdown)
    * deduplicated once; the composition is a fixed left-deep hash-join
    * chain with a per-hop distinct so path multiplicity never multiplies
    * rows — the [[boundedPath]] discipline applied to heterogeneous steps.
    * Output: (x, z) distinct. */
  def seqPath(rel: DataFrame, steps: Seq[String],
      distinctInput: Boolean = false): DataFrame = {
    require(steps.nonEmpty, "empty sequence path")
    def stepRel(st: String): DataFrame = {
      val invStep = st.startsWith("^")
      val p = if (invStep) st.drop(1) else st
      require(p.nonEmpty, s"empty step in sequence path $steps")
      val base = rel.filter(col("p") === p)
      val proj =
        if (invStep) base.select(col("o").as("hs"), col("s").as("ho"))
        else base.select(col("s").as("hs"), col("o").as("ho"))
      // constant-predicate projection of a distinct relation is injective —
      // the per-step dedup shuffle is redundant then (the per-HOP distinct
      // below stays: composition multiplicities are real)
      if (distinctInput) proj else proj.distinct()
    }
    var acc = stepRel(steps.head).select(col("hs").as("x"), col("ho").as("z"))
    for (st <- steps.tail)
      acc = acc.join(stepRel(st), col("z") === col("hs"))
        .select(col("x"), col("ho").as("z")).distinct()
    acc
  }

  /** AMIE-style chain-rule mining over the triple relation: score every
    * horn rule of shape `p1(x,y) ∧ p2(y,z) ⇒ p3(x,z)` by the standard KG
    * rule-mining metrics (Galárraga et al., AMIE) — the KG-COMPLETION step
    * that turns an extracted graph into a predictor of its own missing
    * edges. Per rule: `support` = distinct (x,z) endpoint pairs that have
    * BOTH a p1.p2 path and the p3 head edge; `body_pairs` = distinct pairs
    * with the path at all; `head_pairs` = size of the p3 relation;
    * std confidence and head coverage in exact integer permille.
    * Set semantics throughout (the triple relation is deduplicated once,
    * the body is deduplicated per endpoint pair — witness multiplicity
    * never inflates a metric), x ≠ z as in [[Bgp.boundedPath]].
    * Plan shape: one self-join of the distinct edge relation on the chain
    * variable, one distinct, one (x,z) join against the head relation,
    * three aggregations — all on POST-AGGREGATION graph-sized relations,
    * never on raw observations. At web scale the body closure is the
    * expensive relation; it is grouped by predicate pair immediately and
    * the same capped-expansion discipline as the dedup band joins applies
    * upstream (cap degenerate chain nodes before mining). Output:
    * (p1, p2, p3, support, body_pairs, head_pairs, conf_permille,
    * head_cov_permille). Engine extension, no reference counterpart. */
  def mineChainRules(rel: DataFrame): DataFrame = {
    val (d, body) = chainPrep(rel)
    rulesFrom(d, body)
  }

  private def rulesFrom(d: DataFrame, body: DataFrame): DataFrame = {
    val bodyCnt = body.groupBy(col("p1"), col("p2"))
      .agg(count(lit(1)).as("body_pairs"))
    val supp = body
      .join(d.select(col("s").as("x"), col("p").as("p3"), col("o").as("z")),
        Seq("x", "z"))
      .groupBy(col("p1"), col("p2"), col("p3")).agg(count(lit(1)).as("support"))
    val headCnt = d.groupBy(col("p").as("p3")).agg(count(lit(1)).as("head_pairs"))
    supp.join(bodyCnt, Seq("p1", "p2")).join(headCnt, "p3")
      .select(col("p1"), col("p2"), col("p3"), col("support"),
        col("body_pairs"), col("head_pairs"),
        expr("(1000 * support) div body_pairs").as("conf_permille"),
        expr("(1000 * support) div head_pairs").as("head_cov_permille"))
  }

  /** Shared prep for the rule-mining family: the deduplicated triple
    * relation and the distinct chain-body endpoint pairs (p1, p2, x, z),
    * both checkpointed — [[mineChainRules]] consumes the body three ways and
    * [[ruleCompletions]] joins it back against the mined rules. */
  private def chainPrep(rel: DataFrame): (DataFrame, DataFrame) = {
    val d = rel.select(col("s"), col("p"), col("o")).distinct().localCheckpoint()
    val body = d.select(col("s").as("x"), col("p").as("p1"), col("o").as("y"))
      .join(d.select(col("s").as("y"), col("p").as("p2"), col("o").as("z")), "y")
      .filter(col("x") =!= col("z"))
      .select(col("p1"), col("p2"), col("x"), col("z")).distinct()
      .localCheckpoint()
    (d, body)
  }

  /** KG completion by the mined chain rules: every body pair (x, z) of a
    * rule whose standard confidence clears `minConfPermille` predicts the
    * head edge (x, p3, z); edges ALREADY in the KG are dropped (anti-join)
    * and an edge predicted by several rules keeps the single best
    * confidence. This is the step that turns [[mineChainRules]]'s scores
    * into candidate facts — the link-prediction output a KG builder feeds
    * to human review or a downstream ranker. Same join shapes as the miner
    * (body ⨝ rules is a broadcast of the tiny rule table; the anti-join
    * shuffles on the edge key). Output: (s, p, o, conf_permille).
    * Engine extension, no reference counterpart. */
  def ruleCompletions(rel: DataFrame, minConfPermille: Long = 300L): DataFrame = {
    val (d, body) = chainPrep(rel)
    val rules = rulesFrom(d, body)
      .filter(col("conf_permille") >= minConfPermille)
      .select(col("p1"), col("p2"), col("p3"), col("conf_permille"))
    body.join(broadcast(rules), Seq("p1", "p2"))
      .select(col("x").as("s"), col("p3").as("p"), col("z").as("o"),
        col("conf_permille"))
      .join(d, Seq("s", "p", "o"), "left_anti")
      .groupBy(col("s"), col("p"), col("o"))
      .agg(max(col("conf_permille")).as("conf_permille"))
  }

  /** Left-deep join of pre-compiled pattern bindings — shared by
    * [[matchPatterns]] (all bindings from one relation) and [[viewDelta]]
    * (one position substituted with the strictly-new delta bindings). */
  private def chain(bindings: Seq[(DataFrame, Seq[String])]): DataFrame = {
    require(bindings.nonEmpty, "empty pattern list")
    var (acc, bound) = (bindings.head._1, bindings.head._2.toSet)
    for ((df, vs) <- bindings.tail) {
      val shared = vs.filter(bound.contains)
      require(shared.nonEmpty,
        s"pattern binding $vs shares no variable with the joined prefix — " +
          "cartesian product rejected; reorder the patterns")
      acc = acc.join(df, shared)
      bound ++= vs
    }
    acc
  }

  /** Deterministic greedy join-order planner for a BGP: start from the most
    * selective pattern (most constant positions; ties by list position) and
    * repeatedly append the most selective pattern CONNECTED to the bound
    * variable set — the textbook heuristic a SPARQL engine applies when the
    * caller doesn't hand-order the join graph. Patterns that never connect
    * are left at the tail in original order, so [[matchPatterns]] still
    * fail-fasts on a genuinely disconnected query rather than this planner
    * hiding it. Pure function of the pattern shapes — no statistics, no
    * nondeterminism (cost-based reorder beyond this belongs to Catalyst,
    * which already reorders the produced equi-join tree under AQE). */
  def planPatterns(patterns: Seq[Pat]): Seq[Pat] = {
    def vars(p: Pat): Set[String] = {
      val norm = if (p.p.startsWith("^")) Pat(p.o, p.p.drop(1), p.s) else p
      Seq(norm.s, norm.p, norm.o).filter(isVar).toSet
    }
    def selectivity(p: Pat): Int = Seq(p.s, p.p, p.o).count(t => !isVar(t))
    val indexed = patterns.zipWithIndex
    if (indexed.isEmpty) return patterns
    val first = indexed.maxBy { case (p, i) => (selectivity(p), -i) }
    val order = collection.mutable.ArrayBuffer(first)
    var bound = vars(first._1)
    var remaining = indexed.filterNot(_ == first)
    var progress = true
    while (progress && remaining.nonEmpty) {
      remaining.filter { case (p, _) => vars(p).exists(bound) } match {
        case Seq() => progress = false
        case connectable =>
          val next = connectable.maxBy { case (p, i) => (selectivity(p), -i) }
          order += next
          bound ++= vars(next._1)
          remaining = remaining.filterNot(_ == next)
      }
    }
    (order ++ remaining).map(_._1).toSeq
  }

  /** Statistics-fed greedy join-order planner — [[planPatterns]] upgraded
    * from shape selectivity (how many constant positions) to MEASURED
    * per-pattern cardinality: one conditional-aggregation scan of the triple
    * relation computes, for every pattern at once, the number of triples its
    * constant positions (and repeated-variable equalities) match, and the
    * greedy chain then starts from the cheapest pattern and repeatedly
    * appends the cheapest CONNECTED one (ties broken by original list
    * position — fully deterministic given the data). Shape selectivity
    * cannot tell `?x placed ?y` from `?x contains ?y` apart (one constant
    * each); real predicate counts can, and starting the left-deep chain from
    * the smallest relation is the classic driver of BGP join cost.
    *
    * Cost: ONE extra Spark job — a map-side n-column count-if aggregate over
    * one scan (no shuffle beyond the final single-row reduce). At 10^12
    * triples, relative order is all that matters, so callers may hand in a
    * deterministically thinned relation (ops/Sampling) or a maintained
    * predicate-count table instead of the full KG. Disconnected patterns
    * stay at the tail in original order — [[matchPatterns]] keeps its
    * cartesian fail-fast contract. Engine extension, no reference
    * counterpart. */
  def planPatternsStats(rel: DataFrame, patterns: Seq[Pat]): Seq[Pat] = {
    if (patterns.length <= 1) return patterns
    def norm(p: Pat): Pat =
      if (p.p.startsWith("^")) Pat(p.o, p.p.drop(1), p.s) else p
    def matchCond(pat: Pat): org.apache.spark.sql.Column = {
      val p = norm(pat)
      val terms = Seq("s" -> p.s, "p" -> p.p, "o" -> p.o)
      val consts = terms.collect {
        case ("p", t) if !isVar(t) && t.startsWith("!") =>
          val banned = t.drop(1).split('|').toSeq
          require(banned.forall(_.nonEmpty), s"empty predicate in negated set $t")
          !col("p").isin(banned: _*)
        case (c, t) if !isVar(t) && !(c == "p" && t.startsWith("!")) =>
          col(c) === t
      }
      val eqs = terms.filter(x => isVar(x._2)).groupBy(_._2).toSeq.sortBy(_._1)
        .map(_._2).filter(_.length > 1)
        .flatMap(occ => occ.map(_._1).sliding(2).map(pr => col(pr.head) === col(pr.last)))
      (consts ++ eqs).foldLeft(lit(true))(_ && _)
    }
    val row = rel.select(patterns.zipWithIndex.map { case (p, i) =>
      sum(when(matchCond(p), 1L).otherwise(0L)).as(s"c$i")
    }: _*).collect()(0)
    val card = patterns.indices.map(i => if (row.isNullAt(i)) 0L else row.getLong(i))
    greedyByCard(patterns, card)
  }

  /** The stats planners' shared greedy chain: start from the cheapest
    * pattern, repeatedly append the cheapest CONNECTED one, ties by original
    * list position; disconnected patterns stay at the tail in original
    * order (matchPatterns keeps its cartesian fail-fast contract). */
  private def greedyByCard(patterns: Seq[Pat], card: Seq[Long]): Seq[Pat] = {
    def norm(p: Pat): Pat =
      if (p.p.startsWith("^")) Pat(p.o, p.p.drop(1), p.s) else p
    def vars(p: Pat): Set[String] = {
      val n = norm(p); Seq(n.s, n.p, n.o).filter(isVar).toSet
    }
    val indexed = patterns.zipWithIndex
    val first = indexed.minBy { case (_, i) => (card(i), i) }
    val order = collection.mutable.ArrayBuffer(first)
    var bound = vars(first._1)
    var remaining = indexed.filterNot(_ == first)
    var progress = true
    while (progress && remaining.nonEmpty) {
      remaining.filter { case (p, _) => vars(p).exists(bound) } match {
        case Seq() => progress = false
        case connectable =>
          val next = connectable.minBy { case (_, i) => (card(i), i) }
          order += next
          bound ++= vars(next._1)
          remaining = remaining.filterNot(_ == next)
      }
    }
    (order ++ remaining).map(_._1).toSeq
  }

  /** Per-predicate count statistics of a triple relation — the persistable
    * form of what [[planPatternsStats]] measures per call. For a RESIDENT
    * KG (an [[EdgeStore]]/[[ChangelogStore]] session serving many BGP
    * queries) the counts are computed ONCE alongside the store (and
    * invalidated by the store's own batch merges — see `EdgeStore.merge`),
    * so planning costs a metadata read instead of a KG scan per query.
    * Output: (p, n) plus one (NULL, total) row carrying the relation size. */
  def predicateStats(rel: DataFrame): DataFrame =
    rel.groupBy(col("p")).agg(count(lit(1)).as("n"))
      .unionByName(rel.agg(lit(null).cast("string").as("p"), count(lit(1)).as("n")))

  /** [[planPatternsStats]] from a PRE-COMPUTED per-predicate count map (+
    * relation total) instead of a scan — pure driver-side planning, no Spark
    * job. Estimates per pattern (relative order is all that matters):
    * constant predicate -> its stored count (negated sets: total minus the
    * banned sum); variable predicate -> total; each additional constant
    * position divides by 100, each repeated-variable equality by 10 —
    * the classic independence-assumption refinement, deterministic. */
  def planPatternsCached(stats: Map[String, Long], total: Long,
      patterns: Seq[Pat]): Seq[Pat] = {
    if (patterns.length <= 1) return patterns
    def norm(p: Pat): Pat =
      if (p.p.startsWith("^")) Pat(p.o, p.p.drop(1), p.s) else p
    val card = patterns.map { pat =>
      val p = norm(pat)
      val base =
        if (isVar(p.p)) total
        else if (p.p.startsWith("!")) {
          val banned = p.p.drop(1).split('|').toSeq
          require(banned.forall(_.nonEmpty), s"empty predicate in negated set ${p.p}")
          math.max(0L, total - banned.map(stats.getOrElse(_, 0L)).sum)
        } else stats.getOrElse(p.p, 0L)
      val extraConsts = Seq(p.s, p.o).count(!isVar(_))
      val eqPenalty =
        if (Seq(p.s, p.o).filter(isVar).distinct.length < Seq(p.s, p.o).count(isVar(_))) 10L
        else 1L
      base / math.pow(100.0, extraConsts.toDouble).toLong.max(1L) / eqPenalty
    }
    greedyByCard(patterns, card)
  }

  /** Match `patterns` conjunctively against `rel` (columns `s`, `p`, `o`).
    * Output: one column per distinct variable (name without the '?'), one
    * row per solution under set semantics (duplicate triples in `rel` do
    * not multiply solutions — callers usually pass a `.distinct()`-ed or
    * aggregated triple relation anyway). */
  def matchPatterns(rel: DataFrame, patterns: Seq[Pat]): DataFrame =
    matchPatterns(rel, patterns, distinctInput = false)

  /** [[matchPatterns]] with a caller guarantee that `rel` is duplicate-free:
    * per-pattern dedup shuffles are elided where [[needsDedup]] proves the
    * binding projection injective (identical solution set — BgpSpec pins the
    * two paths equal). */
  def matchPatterns(rel: DataFrame, patterns: Seq[Pat], distinctInput: Boolean): DataFrame =
    chain(patterns.map(p => one(rel, p, dedup = needsDedup(distinctInput, p))))

  /** SPARQL aggregation (`GROUP BY … HAVING`) over the solutions of a BGP:
    * per distinct assignment of `groupVars`, the solution count, and the
    * min/max of `aggVar` — the analytics form of a pattern query ("how many
    * negative targets does each positively-linked source reach"). Under the
    * engine's set semantics COUNT(*) over solutions equals SPARQL's
    * COUNT(DISTINCT remaining vars), so the result is cross-engine exact.
    * Groups whose solution count is below `havingMinCount` are dropped
    * (SPARQL HAVING). Output: groupVars…, n_solutions, agg_min, agg_max.
    * Plan shape: the BGP join chain (constants pushed to the scans) feeds
    * ONE hash aggregation on the group variables — partial map-side
    * aggregation applies, so the shuffle carries group-sized data only. */
  def matchAggregate(rel: DataFrame, patterns: Seq[Pat], groupVars: Seq[String],
      aggVar: String, havingMinCount: Long = 0L): DataFrame = {
    require(groupVars.nonEmpty, "empty GROUP BY variable list")
    val sol = matchPatterns(rel, patterns)
    val bound = sol.columns.toSet
    def v(name: String): String = {
      require(name.startsWith("?") && bound.contains(name.drop(1)),
        s"aggregation variable $name is not bound by the patterns")
      name.drop(1)
    }
    sol.groupBy(groupVars.map(g => col(v(g))): _*)
      .agg(count(lit(1)).as("n_solutions"),
        min(col(v(aggVar))).as("agg_min"),
        max(col(v(aggVar))).as("agg_max"))
      .filter(col("n_solutions") >= havingMinCount)
  }

  /** SPARQL `GROUP_CONCAT(DISTINCT ?v ORDER BY ?v)` over BGP solutions: per
    * group, the distinct `aggVar` values joined by `sep` in ascending order —
    * the ONLY deterministic group-concat (an unordered concat differs run to
    * run under parallel aggregation, which the cross-engine hash gate would
    * catch immediately). Output: groupVars…, n_values, agg_concat.
    * Plan shape: one hash aggregation collecting the group's distinct value
    * set (collect_set gets partial aggregation; group cardinality is bounded
    * by the group's distinct values, which a GROUP_CONCAT materializes into
    * one row anyway — a group too large for this is too large for the
    * query's OUTPUT, not for the engine), sorted and joined map-side. */
  def matchGroupConcat(rel: DataFrame, patterns: Seq[Pat], groupVars: Seq[String],
      aggVar: String, sep: String = ","): DataFrame = {
    require(groupVars.nonEmpty, "empty GROUP BY variable list")
    val sol = matchPatterns(rel, patterns)
    val bound = sol.columns.toSet
    def v(name: String): String = {
      require(name.startsWith("?") && bound.contains(name.drop(1)),
        s"aggregation variable $name is not bound by the patterns")
      name.drop(1)
    }
    sol.groupBy(groupVars.map(g => col(v(g))): _*)
      .agg(collect_set(col(v(aggVar))).as("vals"))
      .select(groupVars.map(g => col(v(g))) ++ Seq(
        size(col("vals")).cast("long").as("n_values"),
        array_join(array_sort(col("vals")), sep).as("agg_concat")): _*)
  }

  /** Delta-term skip list from a caller-asserted PREDICATE MANIFEST of the
    * delta batch (the realistic ingest contract: a crawl batch knows which
    * relations it asserts). A pattern whose predicate is a plain constant
    * outside the manifest has ΔP_i = ∅ by construction, so its union term
    * is provably empty and never built. Inverse predicates normalize first;
    * variable and negated-set predicates are conservatively kept. */
  private def liveTermIndices(patterns: Seq[Pat],
      deltaPreds: Option[Seq[String]]): Seq[Int] = deltaPreds match {
    case None => patterns.indices
    case Some(ps) =>
      val set = ps.toSet
      patterns.indices.filter { i =>
        val p0 = patterns(i).p
        val p = if (p0.startsWith("^")) p0.drop(1) else p0
        isVar(p) || p.startsWith("!") || set.contains(p)
      }
  }

  /** Incremental maintenance of a materialized BGP view: the NEW solutions
    * that a `delta` batch of triples adds to the view over `base` — i.e.
    * `solutions(base ∪ delta) − solutions(base)` — computed WITHOUT ever
    * joining base bindings against base bindings. This is the continuous-
    * crawl shape: the materialized view over a 10^12-triple KG is never
    * recomputed; each ingest batch derives only its own contribution.
    *
    * Correctness: an assignment is a NEW solution iff it matches every
    * pattern over base ∪ delta AND for AT LEAST ONE pattern position its
    * projection onto that pattern's variables is a strictly-new binding
    * (in P_i(delta) − P_i(base)) — were every projection an old binding,
    * base alone would derive the assignment. So the delta of the view is
    *   ⋃_i  P_1(full) ⋈ … ⋈ ΔP_i ⋈ … ⋈ P_n(full)      (deduplicated)
    * with ΔP_i = P_i(delta) − P_i(base), the classic delta-join rewrite.
    *
    * Plan shape: each ΔP_i is a pattern-sized ANTI join (delta bindings vs
    * one filtered base scan — constants pushed down on both sides); each
    * union term is the normal left-deep BGP chain with the tiny ΔP_i in
    * one position, so Catalyst broadcasts it and every term's cost scales
    * with the DELTA's contribution, never with |base|². A solution touched
    * by several new bindings appears in several terms — one distinct on
    * top restores set semantics. Both inputs are localCheckpointed ONCE at
    * entry: the n union terms plus the n ΔP_i anti-joins reference base and
    * delta ~2n times each, and without plan truncation a derived base (e.g.
    * a typed-triple extraction over raw tables) would be re-evaluated per
    * occurrence — the checkpoint bounds that to one evaluation each, with
    * every term scanning in-memory blocks (the repo-wide lineage-truncation
    * convention for multiply-consumed relations). Engine extension, no
    * reference counterpart. */
  def viewDelta(base: DataFrame, delta: DataFrame, patterns: Seq[Pat],
      disjointDistinct: Boolean = false,
      deltaPreds: Option[Seq[String]] = None): DataFrame = {
    require(patterns.nonEmpty, "empty pattern list")
    val b = truncated(base.select("s", "p", "o"))
    val dlt = truncated(delta.select("s", "p", "o"))
    val full = b.unionByName(dlt)
    // disjointDistinct: caller asserts base and delta are each duplicate-
    // free AND mutually disjoint (the ingest-batch contract), so base,
    // delta and their union are all sets and [[needsDedup]] elides the
    // per-pattern dedup shuffles — 3 per pattern here (full, delta, base
    // bindings). Identical solution set.
    def bind(rel: DataFrame, p: Pat) =
      one(rel, p, dedup = needsDedup(disjointDistinct, p))
    val fullBind = patterns.map(bind(full, _))
    val baseBind = patterns.map(bind(b, _))
    val newBind = patterns.map { p =>
      val (d, vs) = bind(dlt, p)
      val (bb, _) = bind(b, p)
      (d.join(bb, vs.toIndexedSeq, "left_anti"), vs)
    }
    // DISJOINT delta terms (the sequenced delta-join rewrite): term i keeps
    // OLD bindings left of i (P_j(base), j < i), the strictly-new ΔP_i at i,
    // and full bindings right of i — a new solution lands in exactly the
    // term of its FIRST new-binding position (left of it every projection is
    // old, i.e. in P_j(base); at it the binding is new by choice of i;
    // P_j(full) right of it). Every term is internally duplicate-free
    // (equi-joins of binding SETS), so the union IS the view delta and the
    // old O(|delta-solutions|) distinct exchange on top is gone outright
    // (guide §2.4). The non-disjoint form (ΔP_i among all-full bindings)
    // double-counted solutions touched by several new bindings and needed
    // that distinct to repair it.
    // terms whose ΔP_i is provably empty under the delta's predicate
    // manifest are never built (identical union: an empty ΔP_i makes the
    // whole term empty); if every term dies the view delta is empty
    val live = liveTermIndices(patterns, deltaPreds)
    if (live.isEmpty) chain(fullBind).filter(lit(false))
    else live
      .map(i => chain(baseBind.take(i) ++ Seq(newBind(i)) ++ fullBind.drop(i + 1)))
      .reduce(_ unionByName _)
  }

  /** Retraction-side view maintenance — the other half of [[viewDelta]]:
    * the solutions a `removed` batch of triples DELETES from the view over
    * `base`, i.e. `solutions(base) − solutions(base − removed)`, without
    * recomputing either side. The classic over-approximate-then-rederive
    * (DRed) rewrite specialized to a non-recursive BGP:
    *
    *   1. OVER-APPROXIMATE: a solution can only disappear if at least one
    *      pattern position used a binding that just VANISHED, so candidates
    *      are ⋃_i P_1(base) ⋈ … ⋈ ΔP_i⁻ ⋈ … ⋈ P_n(base), with
    *      ΔP_i⁻ = P_i(base) − P_i(remaining) (a binding may survive its
    *      witness triple's removal through another witness — the anti-join
    *      of binding SETS, not of triples, handles that for free).
    *   2. RE-DERIVE: a candidate with an alternate derivation over the
    *      remaining triples is NOT removed — one semi-join of the candidate
    *      set against the remaining view's pattern chain, candidate-sized.
    *
    * Every term's cost scales with the REMOVED batch's contribution
    * (ΔP_i⁻ is removal-sized and broadcasts); the rederive step touches
    * candidates only. Output: the removed solutions, set semantics.
    * Engine extension, no reference counterpart. */
  def viewDeltaRetract(base: DataFrame, removed: DataFrame, patterns: Seq[Pat],
      distinctInput: Boolean = false,
      deltaPreds: Option[Seq[String]] = None): DataFrame = {
    require(patterns.nonEmpty, "empty pattern list")
    // base and removed are each referenced by ~2n downstream terms; truncate
    // lineage once so a derived base is evaluated once, not per occurrence
    // (same convention as viewDelta / the remaining checkpoint below).
    val b = truncated(base.select("s", "p", "o"))
    val rm = truncated(removed.select("s", "p", "o"))
    val remaining = b
      .join(rm, Seq("s", "p", "o"), "left_anti")
      .localCheckpoint() // a join — always worth one truncation
    // distinctInput: base duplicate-free implies `remaining` (an anti-join
    // of it) is too — [[needsDedup]] then elides the per-pattern dedup
    // shuffles on both binding families; the result is unchanged.
    def bind(rel: DataFrame, p: Pat) =
      one(rel, p, dedup = needsDedup(distinctInput, p))
    val baseBind = patterns.map(bind(b, _))
    val remBind = patterns.map(bind(remaining, _))
    val goneBind = patterns.indices.map { i =>
      val (b, vs) = baseBind(i)
      (b.join(remBind(i)._1, vs.toIndexedSeq, "left_anti"), vs)
    }
    // DISJOINT removed-solution terms (the retract side of viewDelta's
    // sequenced rewrite): term i keeps SURVIVING bindings left of i
    // (P_j(remaining)), the vanished ΔP_i⁻ at i, base bindings right of i.
    // A solution binds EVERY pattern's variables, so for a non-recursive
    // BGP solution-hood is exactly per-pattern binding membership — which
    // makes the terms EXACT, not an over-approximation:
    //  - a term-i row has its position-i projection in ΔP_i⁻, i.e. absent
    //    from P_i(remaining) (alternate witnesses included — the anti-join
    //    is of binding SETS), hence it is NOT a remaining-view solution:
    //    every term row is truly removed, and DRed's re-derivation
    //    semi-join — previously a full solution-set-sized view build plus
    //    an O(|candidates|) anti-join — has nothing to do and is gone;
    //  - a removed solution lands in EXACTLY the term of its FIRST
    //    vanished-binding position (left of it every projection survived,
    //    so it is in P_j(remaining)), hence the terms are pairwise disjoint
    //    and internally duplicate-free (equi-joins of binding sets): the
    //    old repair `.distinct()` exchange is gone too (guide §2.4).
    // same manifest skip as viewDelta: a pattern whose constant predicate
    // the removed batch cannot carry has ΔP_i⁻ = ∅ (removal of absent
    // bindings), so its term is empty and never built
    val live = liveTermIndices(patterns, deltaPreds)
    if (live.isEmpty) chain(baseBind).filter(lit(false))
    else live
      .map(i => chain(remBind.take(i) ++ Seq(goneBind(i)) ++ baseBind.drop(i + 1)))
      .reduce(_ unionByName _)
  }

  /** SPARQL `OPTIONAL`: every solution of `required`, extended by the
    * `optional` group's bindings where it matches and NULL-padded where it
    * does not — a LEFT OUTER join of the two independently compiled BGP
    * chains on their shared variables. The optional group must share at
    * least one variable with the required group (a disconnected OPTIONAL is
    * a cartesian extension — rejected, like [[matchPatterns]] does). Plan
    * shape: both groups push their constants to the scan; the outer join is
    * the only extra operator, hashed on the shared binding columns. */
  def matchOptional(rel: DataFrame, required: Seq[Pat], optional: Seq[Pat]): DataFrame = {
    val base = matchPatterns(rel, required)
    val opt = matchPatterns(rel, optional)
    val shared = base.columns.filter(opt.columns.toSet)
    require(shared.nonEmpty,
      "OPTIONAL group shares no variable with the required group — rejected")
    base.join(opt, shared.toIndexedSeq, "left_outer")
  }

  /** SPARQL `FILTER NOT EXISTS`: solutions of `required` for which the
    * `absent` group has NO match under the shared-variable bindings — a
    * LEFT ANTI join, so the negative group never materializes into the
    * output and Catalyst can plan it as a broadcast anti join when the
    * negative pattern is selective (the usual case: a constant predicate). */
  def matchNotExists(rel: DataFrame, required: Seq[Pat], absent: Seq[Pat],
      distinctInput: Boolean = false): DataFrame = {
    val base = matchPatterns(rel, required, distinctInput)
    val neg = matchPatterns(rel, absent, distinctInput)
    val shared = base.columns.filter(neg.columns.toSet)
    require(shared.nonEmpty,
      "NOT EXISTS group shares no variable with the required group — rejected")
    base.join(neg, shared.toIndexedSeq, "left_anti")
  }

  /** SPARQL `CONSTRUCT`: rewrite every solution of `patterns` through the
    * `template` triples (positions are '?var' bound by the patterns, or
    * constants) into a NEW deduplicated (s, p, o) relation — the KG-derivation
    * primitive (materialized inference rules, view KGs). One projection per
    * template triple off the SAME solution relation + a union + one distinct;
    * an unbound template variable is a caller bug and fails fast. */
  def construct(rel: DataFrame, patterns: Seq[Pat], template: Seq[Pat]): DataFrame = {
    require(template.nonEmpty, "empty CONSTRUCT template")
    val sol = matchPatterns(rel, patterns)
    val bound = sol.columns.toSet
    def term(t: String) =
      if (isVar(t)) {
        require(bound.contains(t.drop(1)), s"unbound template variable $t")
        col(t.drop(1))
      } else lit(t)
    template.map(t => sol.select(term(t.s).as("s"), term(t.p).as("p"), term(t.o).as("o")))
      .reduce(_.union(_)).distinct()
  }

  /** SPARQL `UNION`: the solutions of ANY group, under the engine's set
    * semantics. Groups may bind different variable sets — a variable absent
    * from a group is NULL-padded in that group's rows, exactly the SPARQL
    * unbound convention. Column order: the first group's variables, then
    * each later group's new variables in group order. Plan shape: each group
    * compiles independently (constants pushed to its scans); the union is a
    * no-shuffle concatenation with one distinct on top. */
  def matchUnion(rel: DataFrame, groups: Seq[Seq[Pat]]): DataFrame = {
    require(groups.lengthCompare(2) >= 0, "UNION needs at least two groups")
    groups.map(matchPatterns(rel, _))
      .reduce(_.unionByName(_, allowMissingColumns = true))
      .distinct()
  }

  /** SPARQL `MINUS`: solutions of `required` minus those compatible with a
    * `minus`-group solution on their shared variables — a LEFT ANTI join.
    * The SPARQL-spec quirk is preserved: when the groups share NO variable,
    * MINUS removes NOTHING (every solution pair has disjoint domains, hence
    * is trivially compatible-on-nothing and the spec keeps it) — unlike
    * [[matchNotExists]], which rejects that shape as a caller bug. */
  def matchMinus(rel: DataFrame, required: Seq[Pat], minus: Seq[Pat],
      distinctInput: Boolean = false): DataFrame = {
    val base = matchPatterns(rel, required, distinctInput)
    val neg = matchPatterns(rel, minus, distinctInput)
    val shared = base.columns.filter(neg.columns.toSet)
    if (shared.isEmpty) base
    else base.join(neg, shared.toIndexedSeq, "left_anti")
  }

  /** SPARQL `SELECT DISTINCT … ORDER BY … LIMIT k` over the solutions of a
    * BGP — the solution-modifier stack. `project` lists the output variables
    * ('?x' form); `orderBy` lists sort keys, each '?x' (ascending) or '-?x'
    * (descending). Determinism at any partition count: the remaining
    * projected variables are appended ascending as tiebreak, so the sort key
    * is always a total order over the DISTINCT projection — a LIMIT under a
    * partial order would be partition-timing-dependent, which is exactly the
    * bug class the driver's hash gate exists to catch.
    *
    * Plan shape: the BGP chain feeds one hash aggregation (the DISTINCT),
    * then Catalyst plans sort+limit as TakeOrderedAndProject — a per-
    * partition top-k heap plus a k-row merge on the driver, never a full
    * sort of the solution set. Engine extension, no reference counterpart. */
  def matchSelect(rel: DataFrame, patterns: Seq[Pat], project: Seq[String],
      orderBy: Seq[String], limit: Int): DataFrame = {
    require(project.nonEmpty, "empty projection")
    require(limit >= 1, s"limit must be >= 1, got $limit")
    val sol = matchPatterns(rel, patterns)
    val bound = sol.columns.toSet
    def v(name: String): String = {
      val n = name.stripPrefix("-")
      require(n.startsWith("?") && bound.contains(n.drop(1)),
        s"variable $name is not bound by the patterns")
      n.drop(1)
    }
    val proj = project.map(v)
    // SPARQL permits ORDER BY on non-projected variables, but under DISTINCT
    // that order is ill-defined (many source rows per distinct row) — and the
    // sort here runs after the projection+DISTINCT, so such a key would fail
    // at analysis anyway. Reject it up front with a message naming the fix.
    orderBy.map(v).filterNot(proj.contains).foreach { k =>
      throw new IllegalArgumentException(
        s"ORDER BY variable ?$k is not in the projection — matchSelect sorts " +
          "the DISTINCT projection (determinism contract), so every sort key " +
          "must be projected; add ?" + k + " to `project`")
    }
    val keys = orderBy.map(o => if (o.startsWith("-")) col(v(o)).desc else col(v(o)).asc)
    val tiebreak = proj.filterNot(orderBy.map(v).contains).map(col(_).asc)
    sol.select(proj.map(col): _*).distinct()
      .orderBy(keys ++ tiebreak: _*).limit(limit)
  }

  /** SPARQL `FILTER` over the solutions of a BGP: `cond` is any Column
    * predicate over the bound variables (column names without the '?').
    * Deliberately thin — the value is WHERE the filter runs: Catalyst pushes
    * a predicate that references a single pattern's variables below the join
    * into that pattern's scan, so `FILTER(?y != ?z)` filters the join output
    * while `FILTER(regexp ?x …)` prunes before any join, for free. */
  def matchWhere(rel: DataFrame, patterns: Seq[Pat], cond: org.apache.spark.sql.Column,
      distinctInput: Boolean = false): DataFrame =
    matchPatterns(rel, patterns, distinctInput).filter(cond)

  /** SPARQL `VALUES`: inline solution bindings joined into the BGP — the
    * parameterized-query primitive ("run the pattern for THESE fifty
    * entities"). `vars` names the bound variables ('?x' form), `rows` the
    * literal binding rows (no UNDEF — a partially-bound VALUES row is two
    * VALUES clauses). The literal table enters the plan as a broadcast-sized
    * local relation, so the join never shuffles the solution side on its
    * account. */
  def matchValues(rel: DataFrame, patterns: Seq[Pat], vars: Seq[String],
      rows: Seq[Seq[String]], distinctInput: Boolean = false): DataFrame = {
    require(vars.nonEmpty && rows.nonEmpty, "empty VALUES clause")
    require(rows.forall(_.lengthCompare(vars.length) == 0),
      "every VALUES row must bind every variable (no UNDEF)")
    val sol = matchPatterns(rel, patterns, distinctInput)
    val bound = sol.columns.toSet
    val names = vars.map { x =>
      require(x.startsWith("?") && bound.contains(x.drop(1)),
        s"VALUES variable $x is not bound by the patterns")
      x.drop(1)
    }
    val spark = rel.sparkSession
    import org.apache.spark.sql.types.{StringType, StructField, StructType}
    val schema = StructType(names.map(StructField(_, StringType, nullable = false)))
    val values = spark.createDataFrame(
      spark.sparkContext.parallelize(rows.map(org.apache.spark.sql.Row(_: _*)), 1),
      schema)
    sol.join(broadcast(values), names.toIndexedSeq)
  }

  /** SPARQL `ASK`: does the BGP have at least one solution? Returns a single
    * row `(ask: BIGINT 0|1)` — an integer rather than a boolean so the
    * cross-engine hash gate compares a stable representation. Plan shape: a
    * LocalLimit(1) sits UNDER the count, so every scan stops after its first
    * surviving row and the join chain short-circuits — the cost of a hit is
    * one row's worth of work, not the solution set's. */
  def ask(rel: DataFrame, patterns: Seq[Pat],
      distinctInput: Boolean = false): DataFrame =
    // the deduplicated chain is deliberate even though existence is
    // multiplicity-invariant: the per-pattern DISTINCT shrinks the build
    // side below the broadcast threshold, which beats the shuffle join a
    // raw chain falls into (measured 1.9 s vs 5.9 s at sf0.1). With a
    // distinctInput assertion the dedup is a no-op and elided — the size
    // seen by the join planner is the same either way.
    matchPatterns(rel, patterns, distinctInput).limit(1)
      .agg(count(lit(1)).cast("long").as("ask"))

  /** SPARQL `DESCRIBE`: every triple whose subject OR object is one of the
    * `nodes` — the entity-dossier query (concise bounded description, depth
    * 1). Two IN-filtered scans (both pushdown-eligible) unioned with one
    * distinct; output (s, p, o, role) where role marks which slot matched
    * ('s', 'o', or 'both' when the triple touches two described nodes). */
  def describe(rel: DataFrame, nodes: Seq[String],
      distinctInput: Boolean = false): DataFrame = {
    require(nodes.nonEmpty, "DESCRIBE needs at least one node")
    val t = rel.select("s", "p", "o")
    // a duplicate-free input makes the dossier dedup a no-op — elide the
    // full-relation shuffle and keep only the pushdown-eligible IN filter
    (if (distinctInput) t else t.distinct())
      .filter(col("s").isin(nodes: _*) || col("o").isin(nodes: _*))
      .select(col("s"), col("p"), col("o"),
        when(col("s").isin(nodes: _*) && col("o").isin(nodes: _*), "both")
          .when(col("s").isin(nodes: _*), "s").otherwise("o").as("role"))
  }

  /** Unbounded property path `(p1|p2|…)+` to the EXACT fixpoint: distinct
    * endpoint pairs (x, z) connected by a directed path of >= 1 edges whose
    * labels are all in `preds`, optionally restricted to paths STARTING at
    * one of `seeds` (the production shape — a full transitive closure over a
    * 10^12-page KG is quadratic output and stays behind [[boundedPath]]'s
    * hop budget; seeded closure is how RPQ `+` is actually answered at web
    * scale). Semi-naive datalog evaluation: each round expands only the
    * novel pairs since the last materialization (delta join step),
    * anti-joins the accumulated closure so cycles terminate, and detects
    * convergence with an observe() metric collected by the SAME action that
    * materializes the round (the Dedup.clusters discipline), lineage
    * truncated per materialization so plans stay bounded.
    *
    * One action per hop: each expands the last materialized delta against
    * the accumulated closure. Folding several hops into one action was
    * measured slower (COVERAGE.md "Round-5": 4 hops per action 5.2 s vs
    * 2.8 s per hop, same 545-row closure) — in-action deltas are
    * re-evaluated as plan copies by each later hop's anti-join, and the
    * overshoot hops past the fixpoint re-scan the whole closure.
    * A diameter beyond `maxIter` total hops still fails fast rather than
    * returning a silent partial closure. Output: (x, z). Engine extension,
    * no reference counterpart. */
  def reachability(rel: DataFrame, preds: Seq[String], seeds: Seq[String] = Nil,
      maxIter: Int = 30, distinctInput: Boolean = false): DataFrame = {
    require(preds.nonEmpty, "empty predicate alternation")
    // distinctInput: caller asserts the (s, o) projection of the filtered
    // relation is already duplicate-free (e.g. a distinct KG whose predicate
    // alternation is endpoint-disjoint — the typed supply KG's prefix-typed
    // node spaces). Under that assertion the dedup here is a no-op and the
    // flag drops a redundant full shuffle of the step relation (guide §2.4);
    // rounds >= 1 are set-safe regardless (each frontier deduplicates), but
    // round 0 enters the closure as-is, so the assertion is load-bearing.
    val step0 = rel.filter(col("p").isin(preds: _*))
      .select(col("s").as("hs"), col("o").as("ho"))
    val step = (if (distinctInput) step0 else step0.distinct()).localCheckpoint()
    val start =
      if (seeds.isEmpty) step else step.filter(col("hs").isin(seeds: _*))
    // Semi-naive bookkeeping: the closure is kept as the LIST of per-round
    // delta relations (each checkpointed once when produced) and unioned
    // lazily wherever the accumulated closure is read — re-materializing
    // the whole closure every round would copy O(|closure|) blocks per
    // round (O(diameter x |closure|) total) and pay one extra job per
    // round for no dataflow reason; the lazy union of <= maxIter
    // already-truncated relations keeps plans bounded.
    val deltas = collection.mutable.Buffer(
      start.select(col("hs").as("x"), col("ho").as("z")).localCheckpoint())
    def closure = deltas.reduce(_ union _)
    var delta = deltas.head
    var growing = true
    var it = 0
    val metricBase = s"graft_tc_${java.util.UUID.randomUUID().toString.take(8)}_"
    while (growing && it < maxIter) {
      val metricName = metricBase + it
      // SEEDED closure: the frontier delta is the provably small side
      // (it shrinks toward the fixpoint), but the checkpoint-propagated
      // stats UNDERESTIMATE the step relation, so the planner was
      // broadcasting step — a full hash-relation build of the transition
      // relation per round (measured 1.4s/round at sf0.1 vs 40ms with
      // the frontier broadcast). Hint the frontier explicitly; in the
      // unseeded (full-closure) regime the delta starts at |step| and
      // the hint would be wrong — leave the planner alone there.
      val d = if (seeds.nonEmpty) broadcast(delta) else delta
      val fresh = d.join(step, col("z") === col("hs"))
        .select(col("x"), col("ho").as("z")).distinct()
        .join(closure, Seq("x", "z"), "left_anti")
        .observe(metricName, count(lit(1)).as("novel"))
      val materialized = fresh.localCheckpoint()
      val novel = fresh.queryExecution.observedMetrics.get(metricName) match {
        case Some(row) => row.getLong(0)
        case None => throw new IllegalStateException(
          s"observe metric $metricName not collected during checkpoint — " +
            "convergence detection would silently stall")
      }
      if (novel == 0L) growing = false
      else {
        deltas += materialized
        delta = materialized
      }
      it += 1
    }
    if (growing) throw new IllegalStateException(
      s"Bgp.reachability did not converge in $maxIter rounds — path diameter " +
        s"exceeds the budget; raise maxIter or use boundedPath")
    closure
  }
}
