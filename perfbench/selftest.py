#!/usr/bin/env python3
"""Self-test of the benchmark.

    python3 perfbench/selftest.py

Run from the repository root (about five minutes on 4 cores). For each
workload, a small untraced and a small traced run must exit 0, pass
every output check (``correct``, ``failed == 0``) and print exactly the
metrics ``BENCHMARK.json`` declares, each with its unit; end-to-end
values must be positive. Last, the benchmark must refuse to run in a
directory that holds only ``BENCHMARK.json`` and ``perfbench/``: a
non-zero exit and no result line.
"""
import json
import math
import os
import shutil
import subprocess
import sys
import tempfile

HERE = os.path.dirname(os.path.abspath(__file__))


def run(cwd, workload, trace, seconds=1, seed=7):
    return subprocess.run(
        [sys.executable, os.path.join(cwd, "perfbench", "run.py"),
         "--workload", workload, "--seed", str(seed), "--seconds",
         str(seconds), "--trace", str(trace)],
        cwd=cwd, stdout=subprocess.PIPE, stderr=subprocess.PIPE, text=True,
        timeout=600)


def main():
    root = os.getcwd()
    with open(os.path.join(root, "BENCHMARK.json")) as fh:
        spec = json.load(fh)
    problems = []
    for w in spec["workloads"]:
        for trace, key in ((0, "end_to_end"), (1, "per_layer")):
            tag = f"{w['name']} --trace {trace}"
            r = run(root, w["name"], trace)
            if r.returncode != 0:
                problems.append(f"{tag}: exit {r.returncode}: "
                                f"{r.stderr.strip()[-500:]}")
                continue
            out = json.loads(r.stdout.strip().splitlines()[-1])
            if sorted(out) != ["attempted", "correct", "failed", "metrics"]:
                problems.append(f"{tag}: result keys {sorted(out)}")
            if not out["correct"] or out["failed"] != 0:
                problems.append(f"{tag}: {out['failed']} of "
                                f"{out['attempted']} ops failed")
            want = {m["name"]: m["unit"] for m in spec[key]}
            got = {k: v["unit"] for k, v in out["metrics"].items()}
            if got != want:
                problems.append(f"{tag}: metric names or units differ: "
                                f"{sorted(set(got.items()) ^ set(want.items()))}")
            for k, v in out["metrics"].items():
                x = v["value"]
                if not isinstance(x, (int, float)) or not math.isfinite(x) \
                        or (trace == 0 and x <= 0):
                    problems.append(f"{tag}: {k} = {x!r}")
            print(f"ok   {tag}" if not problems else f"...  {tag}",
                  flush=True)

    bare = tempfile.mkdtemp(dir=os.path.join(root, ".bench_build"))
    try:
        shutil.copy(os.path.join(root, "BENCHMARK.json"), bare)
        shutil.copytree(HERE, os.path.join(bare, "perfbench"),
                        ignore=shutil.ignore_patterns("__pycache__"))
        r = run(bare, spec["workloads"][0]["name"], 0)
        if r.returncode == 0 or r.stdout.strip():
            problems.append("ran without the engine's sources")
    finally:
        shutil.rmtree(bare)
    for p in problems:
        print("FAIL", p)
    print("== selftest", "failed" if problems else "passed")
    return 1 if problems else 0


if __name__ == "__main__":
    sys.exit(main())
