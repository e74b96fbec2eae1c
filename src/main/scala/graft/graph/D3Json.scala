package graft.graph

import java.nio.charset.StandardCharsets
import java.nio.file.{Files, Paths}
import graft.core.Graph

/** d3js JSON export (reference arelight/backend/d3js/utils_graph.py:6-44):
  * force layout `{basis, equation, nodes, links}` and radial layout
  * `[{name, w, imports:[{name, w, sent}]}]`, serialized Python-style:
  * `json.dump(..., ensure_ascii=False, indent=4)` — 4-space indent, ", "/": "
  * separators, non-ASCII verbatim, `\uXXXX` only for control chars.
  */
object D3Json {

  /** Radial adjacency rollup (A7, utils_graph.py:16-31): one entry per node in
    * node order; each edge appended to its TARGET's imports in link order. */
  final case class RadialImport(name: String, w: Double, sent: String)
  final case class RadialNode(name: String, w: Double, imports: Seq[RadialImport])

  def toRadial(g: Graph): Seq[RadialNode] = {
    val imports = scala.collection.mutable.LinkedHashMap.empty[String, Vector[RadialImport]]
    g.nodes.foreach(n => imports.update(n.id, Vector.empty))
    g.links.foreach { l =>
      imports.update(l.target, imports.getOrElse(l.target, Vector.empty) :+
        RadialImport(l.source, l.c, l.sent))
    }
    g.nodes.map(n => RadialNode(n.id, n.c, imports(n.id)))
  }

  // ------------------------------------------------------------ serialization

  /** Python-repr-style number: integral doubles print as ints when `asInt`
    * (Python ints, e.g. raw link counts), else like Python float repr
    * (1.0 -> "1.0", 0.5 -> "0.5"). */
  private def num(v: Double, asInt: Boolean): String =
    if (v == math.rint(v) && math.abs(v) < 1e15) {
      if (asInt) v.toLong.toString else s"${v.toLong}.0"
    } else v.toString // Double.toString is shortest-roundtrip for the [0,1] weights here

  def escape(s: String): String = {
    val b = new StringBuilder
    s.foreach {
      case '"'           => b.append("\\\"")
      case '\\'          => b.append("\\\\")
      case '\n'          => b.append("\\n")
      case '\r'          => b.append("\\r")
      case '\t'          => b.append("\\t")
      case '\b'          => b.append("\\b")
      case '\f'          => b.append("\\f")
      case c if c < ' '  => b.append(f"\\u${c.toInt}%04x")
      case c             => b.append(c)
    }
    b.toString
  }

  private def str(s: String): String = "\"" + escape(s) + "\""

  /** Python json.dump prints empty lists as `[]` inline; non-empty as
    * one-element-per-line at `indent` deeper. */
  private def jsonArray(items: Seq[String], closeIndent: String): String =
    if (items.isEmpty) "[]"
    else "[\n" + items.mkString(",\n") + "\n" + closeIndent + "]"

  /** Force-layout JSON. `intLinkC`: raw counts (builder, weights on) and all
    * weights-off graphs carry Python ints; normalized weights are floats. */
  def forceJson(g: Graph, intLinkC: Boolean, intNodeC: Boolean): String = {
    val basis = jsonArray(g.basis.map(b => "        " + str(b)), "    ")
    val nodes = jsonArray(g.nodes.map { n =>
      s"""        {\n            "id": ${str(n.id)},\n            "c": ${num(n.c, intNodeC)}\n        }"""
    }, "    ")
    val links = jsonArray(g.links.map { l =>
      s"""        {\n            "source": ${str(l.source)},\n            "target": ${str(l.target)},\n            "c": ${num(l.c, intLinkC)},\n            "sent": ${str(l.sent)}\n        }"""
    }, "    ")
    s"""{\n    "basis": $basis,\n    "equation": ${str(g.equation)},\n    "nodes": $nodes,\n    "links": $links\n}"""
  }

  def radialJson(nodes: Seq[RadialNode], intC: Boolean): String =
    jsonArray(nodes.map { n =>
      val imps = jsonArray(n.imports.map { i =>
        s"""            {\n                "name": ${str(i.name)},\n                "w": ${num(i.w, intC)},\n                "sent": ${str(i.sent)}\n            }"""
      }, "        ")
      s"""    {\n        "name": ${str(n.name)},\n        "w": ${num(n.w, intC)},\n        "imports": $imps\n    }"""
    }, "")

  /** Save force + radial under `outDir/{force,radial}/<name>.json`
    * (layout per arelight/backend/d3js/ui_web.py:5-10 +
    * backend_d3js_operations.py:38-44). */
  def save(g: Graph, outDir: String, name: String, intLinkC: Boolean, intNodeC: Boolean): Unit = {
    val base = name.replace(".json", "")
    Seq("force", "radial", "descriptions").foreach(d =>
      Files.createDirectories(Paths.get(outDir, d)))
    Files.write(Paths.get(outDir, "force", s"$base.json"),
      forceJson(g, intLinkC, intNodeC).getBytes(StandardCharsets.UTF_8))
    Files.write(Paths.get(outDir, "radial", s"$base.json"),
      radialJson(toRadial(g), intLinkC).getBytes(StandardCharsets.UTF_8))
    // descriptions folder (reference backend_d3js_operations.py:38-49 writes a
    // human-readable description; the reference embeds a wall-clock timestamp —
    // omitted here so outputs stay deterministic/resume-stable)
    Files.write(Paths.get(outDir, "descriptions", s"$base.txt"),
      s"${g.equation}\nnodes: ${g.nodes.size}\nlinks: ${g.links.size}\n"
        .getBytes(StandardCharsets.UTF_8))
  }
}
