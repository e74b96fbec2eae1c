#!/usr/bin/env python3
"""Build file of the benchmark: compiles the engine (src/main/scala) and the
benchmark's own Scala sources (perfbench/src) with the Scala compiler that
ships in the Spark jars directory, into .bench_build/classes.

    python3 perfbench/build.py        # from the repository root

A stamp over every source file skips the build when nothing changed.
"""
import hashlib
import os
import shutil
import subprocess
import sys
from pathlib import Path

BENCH = Path(__file__).resolve().parent


def spark_jars():
    """$SPARK_HOME/jars, else the jars of a Spark install whose bin/ is on PATH."""
    homes = [os.environ.get("SPARK_HOME")] + [
        str(Path(d).parent) for d in os.environ.get("PATH", "").split(os.pathsep) if d]
    for home in filter(None, homes):
        jars = Path(home) / "jars"
        if (jars / "scala-compiler-2.13.17.jar").is_file():
            return jars
    sys.exit("build: no Spark install with the Scala 2.13 compiler jar found (set SPARK_HOME)")


def java():
    home = os.environ.get("JAVA_HOME")
    return str(Path(home) / "bin" / "java") if home else "java"


def sources(root):
    main = sorted((root / "src" / "main" / "scala").rglob("*.scala"))
    bench = sorted((BENCH / "src").rglob("*.scala"))
    if not main or not bench:
        sys.exit("build: engine sources (src/main/scala) or benchmark sources missing")
    return main, bench


def scalac(out, srcs, classpath, log):
    if out.exists():
        shutil.rmtree(out)
    out.mkdir(parents=True)
    cmd = [java(), "-Xss8m", "-Xmx2g", "-XX:-UsePerfData",
           "-cp", f"{spark_jars()}/*", "scala.tools.nsc.Main",
           "-classpath", classpath, "-d", str(out)] + [str(s) for s in srcs]
    r = subprocess.run(cmd, stdout=log, stderr=subprocess.STDOUT, timeout=840)
    if r.returncode != 0:
        sys.exit(f"build: scalac failed for {out.name}, see {log.name}")


def build(root):
    """Compile if needed; returns the runtime classpath entries."""
    build_dir = root / ".bench_build"
    classes = build_dir / "classes"
    main, bench = sources(root)
    h = hashlib.sha256()
    for f in main + bench:
        h.update(str(f.relative_to(root)).encode())
        h.update(f.read_bytes())
    stamp = build_dir / "build.stamp"
    if not (stamp.is_file() and stamp.read_text() == h.hexdigest()):
        build_dir.mkdir(parents=True, exist_ok=True)
        stamp.unlink(missing_ok=True)
        jars = f"{spark_jars()}/*"
        with open(build_dir / "build.log", "w") as log:
            print("build: compiling the engine and the benchmark", file=sys.stderr, flush=True)
            scalac(classes / "main", main, jars, log)
            scalac(classes / "bench", bench, f"{classes / 'main'}{os.pathsep}{jars}", log)
        stamp.write_text(h.hexdigest())
    return [str(classes / "main"), str(classes / "bench"), f"{spark_jars()}/*"]


if __name__ == "__main__":
    print(os.pathsep.join(build(Path.cwd())))
