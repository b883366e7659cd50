#!/usr/bin/env python3
"""Regenerate the engine's class preload list.

    python3 tools/preload_classes.py [--seed 11] [--seconds 20] [--out PATH]

Run from the repository root. ``Engine.session`` loads the classes named
in ``src/main/resources/graft/preload-classes.txt.gz`` on idle cores while
the session starts (see ``Engine.preloaders``). This script records that
list: it runs the benchmark's three workloads (``perfbench/run.py``, the
DAG's own job calls) with the JVM's class-load log on, keeps the logs of
the JVMs that loaded ``graft.engine.Engine$``, and writes every class they
loaded from the class path or the JDK image, in first-load order.

The workloads run in a scratch copy of the sources that has no preload
list, so the log shows what the engine loads on its own, not what the
previous list made it load. Nothing under ``perfbench/`` is changed.
"""
import argparse
import gzip
import json
import os
import re
import shutil
import subprocess
import sys
import tempfile

LIST = "src/main/resources/graft/preload-classes.txt.gz"
WORKLOADS = ("daily_pipeline", "query_mix", "stream_ingest")
# `[0.123s][info][class,load] java.util.HashMap source: jrt:/java.base`
LINE = re.compile(r"^\[([\d.]+)s\]\[info\s*\]\[class,load\s*\] (\S+) "
                  r"source: (.*)$")
SOURCES = ("file:", "jar:", "jrt:")
ENGINE = "graft.engine.Engine$"


def keep(name):
    """A class the preload can load by name: not the benchmark's own, not
    a lambda, a hidden class or a class generated at run time (Janino's
    have a class-path source: their parent's jar)."""
    return not (name.startswith("perfbench.") or "$$Lambda" in name
                or "/" in name or "GeneratedClass" in name)


def checkout(root, dest):
    """Copy what ``perfbench/run.py`` builds and reads, minus the list."""
    for f in ("BENCHMARK.json", "build.sbt"):
        shutil.copy(os.path.join(root, f), dest)
    skip = shutil.ignore_patterns("__pycache__", ".bench_build")
    shutil.copytree(os.path.join(root, "perfbench"),
                    os.path.join(dest, "perfbench"), ignore=skip)
    shutil.copytree(os.path.join(root, "src", "main"),
                    os.path.join(dest, "src", "main"), ignore=skip)
    stale = os.path.join(dest, LIST)
    if os.path.exists(stale):
        os.remove(stale)


def run_workloads(tree, logs, seed, seconds):
    env = dict(os.environ, JAVA_TOOL_OPTIONS=(
        f"-Xlog:class+load=info:file={logs}/cl_%p.txt"))
    for w in WORKLOADS:
        r = subprocess.run(
            [sys.executable, "perfbench/run.py", "--workload", w,
             "--seed", str(seed), "--seconds", str(seconds), "--trace", "0"],
            cwd=tree, env=env, stdout=subprocess.PIPE, text=True)
        last = (r.stdout.strip().splitlines() or ["{}"])[-1]
        if r.returncode != 0 or not json.loads(last).get("correct"):
            raise SystemExit(f"{w} failed (exit {r.returncode}): {last}")
        print(f"{w}: correct", file=sys.stderr)


def first_loads(logs):
    """Class name -> earliest uptime over the engine JVMs' logs."""
    first = {}
    n_jvms = 0
    for f in sorted(os.listdir(logs)):
        loads = []
        engine = False
        with open(os.path.join(logs, f), errors="replace") as fh:
            for line in fh:
                m = LINE.match(line.rstrip("\n"))
                if not m:
                    continue
                t, name, src = float(m.group(1)), m.group(2), m.group(3)
                engine = engine or name == ENGINE
                if src.startswith(SOURCES) and keep(name):
                    loads.append((t, name))
        if not engine:
            continue  # the scalac build, or another tool's JVM
        n_jvms += 1
        for t, name in loads:
            if name not in first or t < first[name]:
                first[name] = t
    if not n_jvms:
        raise SystemExit(f"no log in {logs} loaded {ENGINE}")
    return first, n_jvms


def main():
    ap = argparse.ArgumentParser()
    ap.add_argument("--seed", type=int, default=11)
    ap.add_argument("--seconds", type=int, default=20)
    ap.add_argument("--out", default=LIST)
    a = ap.parse_args()
    root = os.getcwd()
    with tempfile.TemporaryDirectory(prefix="graft-preload-") as tmp:
        tree, logs = os.path.join(tmp, "tree"), os.path.join(tmp, "logs")
        os.makedirs(tree)
        os.makedirs(logs)
        checkout(root, tree)
        run_workloads(tree, logs, a.seed, a.seconds)
        first, n_jvms = first_loads(logs)
    names = sorted(first, key=lambda n: (first[n], n))
    text = "".join(n + "\n" for n in names).encode()
    os.makedirs(os.path.dirname(os.path.abspath(a.out)), exist_ok=True)
    with open(a.out, "wb") as fh:
        # mtime 0: the same classes give the same bytes
        with gzip.GzipFile(filename="", mode="wb", fileobj=fh,
                           mtime=0) as gz:
            gz.write(text)
    print(f"{a.out}: {len(names)} classes from {n_jvms} JVMs, "
          f"{len(text)} bytes as text, {os.path.getsize(a.out)} gzipped")


if __name__ == "__main__":
    main()
