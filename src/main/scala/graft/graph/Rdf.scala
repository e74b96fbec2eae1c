package graft.graph

import org.apache.spark.sql.{Column, DataFrame}
import org.apache.spark.sql.functions._

/** RDF N-Triples export of the constructed KG — the interchange format a
  * downstream triple store / SPARQL engine ingests. Engine extension: the
  * reference stops at its d3 force JSON (`arelight/run/operations.py`
  * serializes graphs only as JSON); a KG meant for 10^12-document corpora
  * needs the standard line-oriented dump that bulk loaders stream.
  *
  * One output row per aggregated edge; formatting is pure per-row string
  * work (map-side, codegen'd `concat`/`replace` chains — no UDF, no shuffle
  * beyond whatever produced the edge relation). The IRI encoder is a fixed
  * literal-replace chain ('%' first), deterministic and mirrored verbatim in
  * the DuckDB oracle.
  */
object Rdf {

  /** Characters N-Triples forbids raw inside an IRIREF (plus '%', escaped
    * first so encoded bytes stay unambiguous). Literal replaces — no regex. */
  private val unsafe: Seq[(String, String)] = Seq(
    " " -> "%20", "<" -> "%3C", ">" -> "%3E", "\"" -> "%22", "\\" -> "%5C",
    "{" -> "%7B", "}" -> "%7D", "|" -> "%7C", "^" -> "%5E", "`" -> "%60",
    "\n" -> "%0A", "\t" -> "%09")

  /** Percent-encode the IRI-unsafe set. Non-ASCII passes through (N-Triples
    * IRIs are UTF-8). */
  def iriEncode(c: Column): Column =
    unsafe.foldLeft(replace(c, lit("%"), lit("%25"))) { case (acc, (from, to)) =>
      replace(acc, lit(from), lit(to))
    }

  /** N-Triples statements from an aggregated edge relation
    * (source, target, sent[, c]): subject/object are node IRIs under
    * `base/node/`, the predicate is the sentiment relation under
    * `base/rel/`. Output: (s, p, o, line) where `line` is the full
    * dot-terminated statement. */
  def ntriples(edges: DataFrame, base: String = "urn:graft"): DataFrame =
    edges
      .select(
        concat(lit(s"<$base/node/"), iriEncode(col("source")), lit(">")).as("s"),
        concat(lit(s"<$base/rel/"), iriEncode(col("sent")), lit(">")).as("p"),
        concat(lit(s"<$base/node/"), iriEncode(col("target")), lit(">")).as("o"))
      .select(col("s"), col("p"), col("o"),
        concat_ws(" ", col("s"), col("p"), col("o"), lit(".")).as("line"))

  /** Turtle serialization of the same edge relation — the human-readable
    * RDF interchange form, grouped the way Turtle is meant to be read: ONE
    * block per subject, predicates joined with `;`, objects per predicate
    * with `,`, everything ordered lexicographically so the output is
    * byte-deterministic at any partition count. Full IRIs (no @prefix
    * header), so every block is independently valid and the file is the
    * concatenation of blocks in any order — the property that lets each
    * partition write its blocks without a global sort. Plan shape: two
    * hash aggregations keyed (s, p) then (s) — the same shuffle profile as
    * the edge aggregation itself; per-group state is bounded by node
    * out-degree (hub subjects at web scale take the salted-rollup path the
    * radial export already ships). Output: (s, block). */
  def turtle(edges: DataFrame, base: String = "urn:graft"): DataFrame = {
    val tri = ntriples(edges, base).select(col("s"), col("p"), col("o")).distinct()
    val po = tri.groupBy(col("s"), col("p"))
      .agg(sort_array(collect_set(col("o"))).as("objs"))
      .select(col("s"), col("p"),
        concat(col("p"), lit(" "), array_join(col("objs"), ", ")).as("objline"))
    po.groupBy(col("s"))
      .agg(sort_array(collect_set(struct(col("p"), col("objline")))).as("pos"))
      .select(col("s"),
        concat(col("s"), lit(" "),
          array_join(transform(col("pos"), x => x.getField("objline")), " ;\n  "),
          lit(" .")).as("block"))
  }

  /** N-Quads statements — [[ntriples]] plus the PROVENANCE graph label as
    * the fourth term (the source document/page each triple was extracted
    * from), the interchange form a named-graph-aware store ingests. Input
    * columns: (g, source, target, sent). Same map-side codegen'd formatting,
    * graph IRIs under `base/graph/`. Output: (s, p, o, g, line). */
  def nquads(edges: DataFrame, base: String = "urn:graft"): DataFrame =
    edges
      .select(
        concat(lit(s"<$base/node/"), iriEncode(col("source")), lit(">")).as("s"),
        concat(lit(s"<$base/rel/"), iriEncode(col("sent")), lit(">")).as("p"),
        concat(lit(s"<$base/node/"), iriEncode(col("target")), lit(">")).as("o"),
        concat(lit(s"<$base/graph/"), iriEncode(col("g")), lit(">")).as("g"))
      .select(col("s"), col("p"), col("o"), col("g"),
        concat_ws(" ", col("s"), col("p"), col("o"), col("g"), lit(".")).as("line"))

  /** owl:sameAs canonicalization — the final entity-resolution step of KG
    * construction: given the triple relation and a set of sameAs assertions
    * (from the linker, from explicit owl:sameAs statements, from external
    * id mappings), rewrite every subject and object onto its canonical
    * representative so each real-world entity appears exactly once in the
    * KG. sameAs is symmetric and TRANSITIVE, so equivalence classes are the
    * connected components of the sameAs graph — chains (a~b, b~c) must
    * collapse even though (a, c) was never asserted. The canonical id is the
    * lexicographically smallest member (the [[graft.ops.Dedup.clusters]]
    * convention used across the engine). Engine extension; reference anchor:
    * ARElight's synonym grouping (`arelight/synonyms.py`) collapses
    * mentions BEFORE graph construction — this is the complementary
    * post-hoc form for identities learned after triples exist.
    *
    * Plan shape: components run on the sameAs relation ONLY (assertion-
    * count-sized, minuscule next to the KG); the 10^12-triple relation is
    * then touched by exactly two joins against the (member → canonical)
    * map — Catalyst broadcasts the map when it fits, and both joins are
    * plain equi-joins on the rewrite key otherwise — plus one distinct,
    * since rewriting can merge formerly-distinct triples. Output: the
    * rewritten, deduplicated (s, p, o) relation.
    *
    * The components are [[GraphOps.connectedComponents]]: one bounded
    * probe of the assertions, then a driver union-find when they fit
    * ([[graft.ops.Dedup.clusters]]), else the distributed loop; both pick
    * the min id in Spark's (UTF-8 byte) order. */
  def sameAsCanonicalize(triples: DataFrame, sameAs: DataFrame): DataFrame = {
    val labels = GraphOps.connectedComponents(
      sameAs.select(col("a").cast("string").as("source"), col("b").cast("string").as("target")))
    val canon = labels
      .filter(col("id") =!= col("cluster")) // identity rewrites are no-ops
    triples
      .join(canon.select(col("id").as("s"), col("cluster").as("s_canon")),
        Seq("s"), "left")
      .join(canon.select(col("id").as("o"), col("cluster").as("o_canon")),
        Seq("o"), "left")
      .select(coalesce(col("s_canon"), col("s")).as("s"), col("p"),
        coalesce(col("o_canon"), col("o")).as("o"))
      .distinct()
  }
}
