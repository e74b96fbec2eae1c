#!/usr/bin/env python3
"""End-to-end and per-layer benchmark of the pages -> triples -> d3 graph path.

    python3 perfbench/run.py --workload crawl-fused --seed 1 --seconds 30 --trace 0

Run from the repository root. The first run builds the engine from source
(perfbench/build.py). Each product CLI call (graft.cli.Infer,
graft.cli.Operations) runs in a fresh JVM at local[4], one after another.
The last line of stdout is the JSON result; see perfbench/README.md.
"""
import argparse
import hashlib
import json
import math
import os
import shutil
import signal
import statistics
import subprocess
import sys
import threading
import time
from pathlib import Path

sys.dont_write_bytecode = True
sys.path.insert(0, str(Path(__file__).resolve().parent))
import build  # noqa: E402

ROOT = Path.cwd()
WORK = ROOT / ".bench_build"
MASTER = "local[4]"
CORES = 4
CALL_TIMEOUT_S = 160
JVM_OPTS = [f"--add-opens=java.base/{p}=ALL-UNNAMED" for p in (
    "java.lang", "java.lang.invoke", "java.lang.reflect", "java.io", "java.net", "java.nio",
    "java.util", "java.util.concurrent", "java.util.concurrent.atomic", "sun.nio.ch",
    "sun.nio.cs", "sun.security.action", "sun.util.calendar")] + [
    "-Dspark.ui.enabled=false", "-Dspark.sql.session.timeZone=UTC",
    "-Xms3g", "-Xmx3g", "-Xmn1g", "-XX:+UseParallelGC", "-XX:-UsePerfData"]
PR_GUARD = "pageRank edge weight out of (0, 100000]"

# crawl-fused: CC-size PageGen pages. At this size the hottest (source, target)
# pair carries more than 100000 triples, so GraphOps.pageRank's weight guard
# rejects the graph; the call is kept and counted as failed.
CRAWL_PAGES = 50000
# wide-graph: one WARC crawl batch through the object path with LSH linking,
# compared by graph algebra with the previous batch's graph.
WIDE_PAGES = 1000
WIDE_SEGMENTS = 4


class BenchError(Exception):
    pass


def log(msg):
    print(f"perfbench: {msg}", file=sys.stderr, flush=True)


# ----------------------------------------------------------------- processes

def run_jvm(classpath, main, args, logfile, cwd, timeout=CALL_TIMEOUT_S):
    """Run one JVM to completion; returns (exit code, wall seconds, peak RSS MB, stdout)."""
    tmp = WORK / "tmp"
    tmp.mkdir(parents=True, exist_ok=True)
    env = dict(os.environ, SPARK_LOCAL_DIRS=str(tmp))
    cmd = [build.java()] + JVM_OPTS + [f"-Djava.io.tmpdir={tmp}", "-cp",
                                       os.pathsep.join(classpath), main] + [str(a) for a in args]
    with open(logfile, "w") as err:
        t0 = time.monotonic()
        p = subprocess.Popen(cmd, stdout=subprocess.PIPE, stderr=err, cwd=cwd, env=env,
                             start_new_session=True)
        killer = threading.Timer(timeout, lambda: os.killpg(p.pid, signal.SIGKILL))
        killer.start()
        out = p.stdout.read().decode("utf-8", "replace")
        _, status, usage = os.wait4(p.pid, 0)
        wall = time.monotonic() - t0
        killer.cancel()
        p.stdout.close()
        p.returncode = os.waitstatus_to_exitcode(status)
    if wall >= timeout:
        raise BenchError(f"{main} {args[:4]} timed out after {timeout}s")
    return p.returncode, wall, usage.ru_maxrss / 1024.0, out


class Calls:
    """The product CLI calls of one run, each through perfbench.Launch. With
    `ladder` = (path, source, input), the traced run's Infer call goes through
    perfbench.Ladder, which times the layers after Infer in the same JVM."""

    def __init__(self, classpath, run_dir, trace, ladder=None):
        self.classpath, self.run_dir, self.trace, self.ladder = classpath, run_dir, trace, ladder
        self.records = []

    def cli(self, kind, cli_class, args):
        i = len(self.records)
        report = self.run_dir / f"call{i:02d}-{kind}.json"
        if self.ladder and kind == "infer":
            main, pre = "perfbench.Ladder", [self.run_dir / "ladder.json", *self.ladder,
                                             self.run_dir / "ladder-out", report]
        else:
            main, pre = "perfbench.Launch", [report, int(self.trace), cli_class]
        rc, wall, rss, out = run_jvm(self.classpath, main, pre + args,
                                     self.run_dir / f"call{i:02d}-{kind}.log", cwd=self.run_dir)
        rep = json.loads(report.read_text()) if report.is_file() else {}
        result = None
        for line in reversed(out.strip().splitlines()):
            if line.startswith("{"):
                result = json.loads(line)
                break
        rec = dict(kind=kind, rc=rc, wall=wall, rss=rss, report=rep, result=result, args=args)
        self.records.append(rec)
        return rec


# -------------------------------------------------------------------- inputs

def inputs(classpath, workload, seed):
    """Generated once per (workload, seed, sizes, build) and kept under
    .bench_build/inputs."""
    version = hashlib.sha256(f"{(WORK / 'build.stamp').read_text()} {CRAWL_PAGES} {WIDE_PAGES} {WIDE_SEGMENTS}"
                             .encode()).hexdigest()[:12]
    d = WORK / "inputs" / f"{workload}-s{seed}-{version}"
    if d.is_dir():
        return d
    tmp = WORK / "inputs" / f".{d.name}.tmp"
    shutil.rmtree(tmp, ignore_errors=True)
    tmp.mkdir(parents=True)
    log(f"generating inputs for {workload} seed {seed}")
    if workload == "crawl-fused":
        args = ["crawl", tmp / "pages", CRAWL_PAGES, seed]
    else:
        args = ["wide", tmp, WIDE_PAGES, seed, WIDE_SEGMENTS]
    rc, _, _, _ = run_jvm(classpath, "perfbench.Gen", args, tmp / "gen.log", cwd=tmp, timeout=170)
    if rc != 0:
        raise BenchError(f"input generation failed, see {tmp / 'gen.log'}")
    tmp.rename(d)
    return d


# -------------------------------------------------------------------- checks

def parquet_rows(path):
    import pyarrow.parquet as pq
    files = sorted(Path(path).glob("*.parquet"))
    if not files:
        raise BenchError(f"no parquet files under {path}")
    return sum(pq.ParquetFile(f).metadata.num_rows for f in files)


def load_graph(path):
    g = json.loads(Path(path).read_text())
    return g["nodes"], g["links"]


def check(cond, msg):
    if not cond:
        raise BenchError(f"wrong output: {msg}")


def check_infer(rec, out, name, exports):
    """Infer's printed counts against what it wrote."""
    check(rec["rc"] == 0 and rec["result"] is not None, f"Infer failed: {rec['report'].get('error')}")
    r = rec["result"]
    triples = parquet_rows(out / "triples")
    check(r["triples"] == triples, f"printed triples {r['triples']} != parquet rows {triples}")
    if exports:
        for t in ("contents", "predict"):
            n = parquet_rows(out / t)
            check(r["samples"] == n, f"printed samples {r['samples']} != {t} rows {n}")
    else:
        check(r["samples"] == triples, "fused run: samples != triples")
    nodes, links = load_graph(out / "force" / f"{name}.json")
    radial = json.loads((out / "radial" / f"{name}.json").read_text())
    check(len(nodes) == r["nodes"] and len(links) == r["links"],
          f"force JSON has {len(nodes)}/{len(links)} nodes/links, Infer printed {r['nodes']}/{r['links']}")
    check(len(radial) == len(nodes), "radial JSON does not have one entry per node")
    check(sum(l["c"] for l in links) == triples, "link counts do not sum to the triples written")
    ends = {l["source"] for l in links} | {l["target"] for l in links}
    check({n["id"] for n in nodes} == ends, "node set is not the set of link endpoints")
    check(triples > 0 and links, "empty graph")
    return links


def pair_weights(links):
    w = {}
    for l in links:
        k = (l["source"], l["target"])
        w[k] = w.get(k, 0) + l["c"]
    return w


def check_pagerank(rec, links):
    """One rank row per graph node; over the weight guard the call must fail
    with the guard's message."""
    if max(pair_weights(links).values()) > 100000:
        check(rec["rc"] != 0 and PR_GUARD in (rec["report"].get("error") or ""),
              "PAGERANK over the weight guard did not fail with the guard's error")
        return
    check(rec["rc"] == 0 and rec["result"], f"PAGERANK failed: {rec['report'].get('error')}")
    nodes = {l["source"] for l in links} | {l["target"] for l in links}
    check(rec["result"]["rows"] == len(nodes), f"PAGERANK rows {rec['result']['rows']} != nodes {len(nodes)}")


def expected_algebra(op, a, b):
    """GraphOps scaladoc: UNION sums then max-normalizes; INTERSECTION and
    DIFFERENCE max-normalize each graph first, keep min / positive difference,
    then renormalize."""
    la = {(l["source"], l["target"], l["sent"]): float(l["c"]) for l in a}
    lb = {(l["source"], l["target"], l["sent"]): float(l["c"]) for l in b}
    am, bm = max(la.values(), default=1.0), max(lb.values(), default=1.0)
    if op == "UNION":
        out = {k: la.get(k, 0.0) + lb.get(k, 0.0) for k in la.keys() | lb.keys()}
    elif op == "INTERSECTION":
        out = {k: min(la[k] / am, c / bm) for k, c in lb.items() if k in la}
    else:
        out = {}
        for k, c in la.items():
            d = c / am - (lb[k] / bm if k in lb else 0.0)
            if k not in lb or d > 0:
                out[k] = d
    m = max(out.values(), default=1.0)
    return {k: v / m for k, v in out.items()}


def check_algebra(rec, op, path, a, b):
    check(rec["rc"] == 0 and rec["result"], f"{op} failed: {rec['report'].get('error')}")
    nodes, links = load_graph(path)
    want = expected_algebra(op, a, b)
    got = {(l["source"], l["target"], l["sent"]): float(l["c"]) for l in links}
    check(want, f"{op} of the two batches is empty")
    check(got.keys() == want.keys(), f"{op}: {len(got)} links, recomputation gives {len(want)}")
    bad = [k for k, v in want.items() if not math.isclose(got[k], v, rel_tol=1e-9, abs_tol=1e-12)]
    check(not bad, f"{op}: {len(bad)} link weights differ from the recomputation, e.g. {bad[:1]}")
    check(rec["result"]["links"] == len(links), f"{op} printed link count differs from its JSON")
    incident = {}
    for l in links:
        for n in (l["source"], l["target"]):
            incident[n] = incident.get(n, 0.0) + float(l["c"])
    check(all(math.isclose(float(n["c"]), incident[n["id"]], rel_tol=1e-9) for n in nodes)
          and len(nodes) == len(incident), f"{op}: node weights are not the sums of incident links")


# ----------------------------------------------------------------- workloads

def crawl_fused(calls, inp, out):
    pages = inp / "pages"
    rec = calls.cli("infer", "graft.cli.Infer",
                    ["--pages", pages, "--fused", "on", "--master", MASTER, "--out", out / "kg", "--name", "crawl"])
    links = check_infer(rec, out / "kg", "crawl", exports=False)
    r = calls.cli("analytics", "graft.cli.Operations",
                  ["--a", out / "kg" / "force" / "crawl.json", "--operation", "PAGERANK",
                   "--master", MASTER, "--out", out / "pagerank"])
    check_pagerank(r, links)
    return CRAWL_PAGES, links


def wide_graph(calls, inp, out):
    warc = inp / "warc" / "*.warc.gz"
    rec = calls.cli("infer", "graft.cli.Infer",
                    ["--warc", warc, "--link", "lsh", "--master", MASTER, "--out", out / "kg", "--name", "batch"])
    links = check_infer(rec, out / "kg", "batch", exports=True)
    _, prev = load_graph(inp / "prev" / "force" / "prev.json")
    for op in ("UNION", "INTERSECTION", "DIFFERENCE"):
        r = calls.cli("algebra", "graft.cli.Operations",
                      ["--a", out / "kg" / "force" / "batch.json", "--b", inp / "prev" / "force" / "prev.json",
                       "--operation", op, "--out", out / op.lower()])
        check_algebra(r, op, out / op.lower() / "force" / f"{op.lower()}.json", links, prev)
    return WIDE_PAGES, links


WORKLOADS = {"crawl-fused": crawl_fused, "wide-graph": wide_graph}


# ------------------------------------------------------------------- metrics

def dir_mb(path):
    return sum(f.stat().st_size for f in Path(path).rglob("*") if f.is_file()) / 1e6


def end_to_end(passes):
    """passes: list of (pages, Calls, out_dir, links)."""
    docs_per_s, workload_s, setups, rss, out_mb = [], [], [], [], []
    attempted = failed = 0
    for pages, calls, out, _ in passes:
        recs = calls.records
        docs_per_s.append(pages / sum(r["wall"] for r in recs if r["kind"] == "infer"))
        workload_s.append(sum(r["wall"] for r in recs))
        setups += [r["report"]["setup_s"] for r in recs if r["report"].get("setup_s") is not None]
        rss += [r["rss"] for r in recs]
        out_mb.append(dir_mb(out))
        attempted += len(recs)
        failed += sum(1 for r in recs if r["rc"] != 0)
    metrics = {
        "infer_docs_per_s": (statistics.median(docs_per_s), "docs/s"),
        "workload_s": (statistics.median(workload_s), "s"),
        "setup_s": (statistics.median(setups), "s"),
        "peak_rss_mb": (max(rss), "MB"),
        "out_mb": (statistics.median(out_mb), "MB"),
        "calls_ok_frac": ((attempted - failed) / attempted, "frac"),
    }
    detail = {"infer_docs_per_s": docs_per_s, "workload_s": workload_s, "setup_s": setups,
              "peak_rss_mb": rss, "out_mb": out_mb}
    return metrics, attempted, failed, detail


def per_layer(workload, calls, links, ladder, inp):
    steps = {s["name"]: s for s in ladder["spans"]}

    def t(name):
        s = steps.get(name)
        return (s["end"] - s["start"]) / 1000.0 if s else 0.0

    def c(name, key):
        s = steps.get(name)
        return s["counters"].get(key, 0) if s else 0

    lsh = ladder["path"] == "lsh"  # else the fused path
    m = {}
    m["sources.scan_s"] = t("scan") if lsh else t("pages")
    m["sources.pages"] = ladder["pages"]
    m["sources.read_mb"] = dir_mb(inp / ("warc" if lsh else "pages"))
    m["text.extract_s"] = t("pages") - t("scan") if lsh else 0.0
    m["text.tokenize_s"] = t("tokenize") - t("pages") if lsh else 0.0
    m["ner.parse_s"] = t("ner") - t("tokenize") if lsh else 0.0
    m["ner.mentions"] = c("ner.mentions", "value")
    m["link.hash_s"] = t("link_hash") - t("ner") if lsh else 0.0
    m["link.lsh_s"] = t("link_lsh") - t("link_hash") if lsh else 0.0
    m["link.dict_entries"] = c("link.dict_entries", "value")
    m["link.shuffle_mb"] = c("link_lsh", "shuffle_write_bytes") / 1e6
    m["kg.fused_s"] = 0.0 if lsh else t("fused") - t("pages")
    score = t("score") - t("samples")
    m["kg.samples_s"] = t("samples") - t("linked") if lsh else 0.0
    m["kg.score_s"] = score if lsh else 0.0
    m["kg.samples"] = c("write_contents", "output_records")
    m["kg.triples"] = c("write_triples", "output_records")
    if lsh:
        m["io.triples_write_s"] = t("write_triples") - score
        m["io.export_write_s"] = t("write_contents") - t("samples") + t("write_predict") - score
    else:
        m["io.triples_write_s"] = t("write_triples") - t("fused")
        m["io.export_write_s"] = 0.0
    m["io.write_mb"] = sum(c(s, "output_bytes") for s in ("write_contents", "write_predict", "write_triples")) / 1e6
    m["graph.typemap_s"] = t("typemap")
    m["graph.edges_s"] = t("edges") - t("typemap")
    m["graph.nodes_s"] = t("nodes") - t("edges")
    m["graph.collect_s"] = t("collect") - t("nodes")
    m["graph.d3_write_s"] = t("d3_write")
    m["graph.edges"] = ladder["graph_edges"]
    m["graph.nodes"] = ladder["graph_nodes"]
    m["graph.shuffle_mb"] = c("edges", "shuffle_write_bytes") / 1e6
    m["graph.max_edge_weight"] = ladder["max_edge_weight"]
    m["graph.algebra_s"] = sum((r["report"]["main_s"] for r in calls.records if r["kind"] == "algebra"), 0.0)
    m["graph.analytics_s"] = sum((r["report"]["main_s"] for r in calls.records if r["kind"] == "analytics"), 0.0)
    infer = next(r for r in calls.records if r["kind"] == "infer")
    rep = infer["report"]
    counters = next(s["counters"] for s in rep["spans"] if s["name"] == "main")
    layer_self = sum(v for k, v in m.items() if k.endswith("_s") and not k.startswith(("graph.algebra", "graph.analytics")))
    m["cli.infer_jobs"] = counters["jobs"]
    m["cli.infer_stages"] = counters["stages"]
    m["cli.unattributed_s"] = rep["main_s"] - layer_self
    m["cli.trace_overhead_s"] = counters["listener_ns"] / 1e9
    m["spark.executor_cpu_s"] = counters["executor_cpu_ns"] / 1e9
    m["spark.cpu_util"] = m["spark.executor_cpu_s"] / (rep["main_s"] * CORES)
    m["spark.spill_mb"] = counters["spill_bytes"] / 1e6
    m["jvm.gc_s"] = rep["gc_ms"] / 1000.0
    check(ladder["graph_edges"] == len(links), "traced layer ladder built a different graph than Infer")
    if workload == "wide-graph":
        check(m["link.dict_entries"] > 0, "LSH linked no spelling variants (link.dict_entries == 0)")
    return m


# ---------------------------------------------------------------------- main

def main():
    ap = argparse.ArgumentParser(description=__doc__.splitlines()[0])
    ap.add_argument("--workload", required=True, choices=sorted(WORKLOADS))
    ap.add_argument("--seed", type=int, required=True)
    ap.add_argument("--seconds", type=float, default=30)
    ap.add_argument("--trace", type=int, choices=(0, 1), default=0)
    a = ap.parse_args()

    classpath = build.build(ROOT)
    inp = inputs(classpath, a.workload, a.seed)
    run_dir = WORK / "runs" / f"{a.workload}-s{a.seed}-t{a.trace}"
    shutil.rmtree(run_dir, ignore_errors=True)
    run_dir.mkdir(parents=True)

    passes, attempts = [], []
    start = time.monotonic()
    try:
        # whole passes of the workload until --seconds have been measured
        while not passes or (not a.trace and time.monotonic() - start < a.seconds):
            pdir = run_dir / f"pass{len(passes)}"
            pdir.mkdir()
            calls = Calls(classpath, pdir, a.trace, ladder_spec(a.workload, inp) if a.trace else None)
            attempts.append(calls)
            pages, links = WORKLOADS[a.workload](calls, inp, pdir / "out")
            passes.append((pages, calls, pdir / "out", links))
        metrics, attempted, failed, detail = end_to_end(passes)
        if a.trace:
            _, calls, _, links = passes[0]
            out_metrics = traced(a.workload, calls, links, inp)
        else:
            out_metrics = {k: {"value": v, "unit": u} for k, (v, u) in metrics.items()}
    except BenchError as e:
        # a wrong output fails the run: result line with correct=false, exit 1
        log(str(e))
        n = max(1, sum(len(c.records) for c in attempts))
        print(json.dumps({"correct": False, "attempted": n, "failed": n, "metrics": {}}))
        sys.exit(1)
    (run_dir / "detail.json").write_text(json.dumps({
        "samples": detail,
        "calls": [{"kind": r["kind"], "rc": r["rc"], "wall_s": r["wall"], "peak_rss_mb": r["rss"],
                   "setup_s": r["report"].get("setup_s"), "main_s": r["report"].get("main_s"),
                   "error": r["report"].get("error"), "result": r["result"]}
                  for c in attempts for r in c.records]}, indent=1))
    print(json.dumps({"correct": True, "attempted": attempted, "failed": failed, "metrics": out_metrics}))


def ladder_spec(workload, inp):
    """(path, source, input) of the workload's Infer call, for perfbench.Ladder."""
    if workload == "crawl-fused":
        return "fused", "parquet", inp / "pages"
    return "lsh", "warc", inp / "warc" / "*.warc.gz"


def traced(workload, calls, links, inp):
    """Per-layer metrics from the ladder that followed the traced Infer call;
    spans, listener and GC figures of every process go to trace.json."""
    report = calls.run_dir / "ladder.json"
    if not report.is_file():
        raise BenchError(f"layer ladder wrote no report, see {calls.run_dir}")
    ladder = json.loads(report.read_text())
    layers = per_layer(workload, calls, links, ladder, inp)
    processes = [{"kind": r["kind"], "wall_s": r["wall"], "peak_rss_mb": r["rss"],
                  **{k: r["report"].get(k) for k in ("cli", "ok", "setup_s", "main_s", "gc_count", "gc_ms", "error")},
                  "listener": next((s["counters"] for s in r["report"].get("spans", []) if s["name"] == "main"), {})}
                 for r in calls.records]
    spans = ladder["spans"] + [s for r in calls.records for s in r["report"].get("spans", [])]
    (calls.run_dir.parent / "trace.json").write_text(json.dumps(
        {"spans": spans, "processes": processes, "metrics": layers}, indent=1))
    return {k: {"value": v, "unit": layer_unit(k)} for k, v in layers.items()}


def layer_unit(name):
    if name.endswith("_s"):
        return "s"
    if name.endswith("_mb"):
        return "MB"
    return "frac" if name.endswith("_util") else "count"


if __name__ == "__main__":
    try:
        main()
    except BenchError as e:
        log(str(e))
        sys.exit(1)
