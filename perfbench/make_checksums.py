#!/usr/bin/env python3
"""Take the query_mix checksum table, ``perfbench/checksums.json``.

    python3 perfbench/make_checksums.py [selfcheck.log]

Run from the repository root. Steps (a selfcheck log already taken on
the same fixture digest replaces step 2):

1. generate the query_mix fixture (twice; the digests must agree);
2. dump every catalog query's result with ``graft.Verify`` and compare
   it with the DuckDB oracle through ``tools/selfcheck.py``;
3. force every query twice, in two JVMs, with the benchmark's forcing
   rule (``perfbench.Checksums``).

A query enters the table when both forced runs succeed and agree; the
entry records the sha256 of its oracle SQL (the key the benchmark
checks) and whether the oracle matched its output. The table is only
valid for the fixture digest it records.
"""
import json
import os
import re
import shutil
import subprocess
import sys

sys.path.insert(0, os.path.dirname(os.path.abspath(__file__)))
import build  # noqa: E402
import gen  # noqa: E402
import run  # noqa: E402


def java(root, classes, main, *args, env=None):
    cmd = run.java_cmd(root, classes, {
        "workload": "", "inputs": "", "work": work_dir(root), "result": "",
        "trace": 0, "cores": 0})
    i = cmd.index("perfbench.Main")
    cmd = cmd[:i] + [main] + list(args)
    subprocess.run(cmd, check=True, env=env, stdout=subprocess.DEVNULL,
                   stderr=subprocess.DEVNULL)


def work_dir(root):
    return os.path.join(root, build.BUILD_DIR, "checksums")


def main():
    root = os.getcwd()
    classes = build.build(root)
    work = work_dir(root)
    shutil.rmtree(work, ignore_errors=True)
    os.makedirs(os.path.join(work, "tmp"))
    cores = str(len(os.sched_getaffinity(0)))
    fx = os.path.join(work, "fixture")
    same, digest, _ = gen.generated_twice(gen.fixture, fx, run.FIXTURE_SCALE)
    assert same, "fixture generation is not deterministic"

    if len(sys.argv) > 1:
        # a selfcheck log already taken on this fixture digest
        with open(sys.argv[1]) as fh:
            check = fh.read()
    else:
        dump = os.path.join(work, "verify")
        java(root, classes, "graft.Verify", fx, dump,
             env={**os.environ, "SPARK_GRAFT_CPUS": cores})
        check = subprocess.run(
            [sys.executable, os.path.join(root, "tools", "selfcheck.py"), fx,
             dump], stdout=subprocess.PIPE, text=True, cwd=work).stdout
    verified = set(re.findall(r"^OK\s+(\S+)", check, re.M))

    runs = []
    for i in range(2):
        out = os.path.join(work, f"forced{i}.jsonl")
        java(root, classes, "perfbench.Checksums", fx, out, cores,
             os.path.join(work, f"w{i}"))
        with open(out) as fh:
            runs.append({r["name"]: r for r in map(json.loads, fh)})

    import pyarrow.parquet as pq
    rows = sum(pq.ParquetFile(os.path.join(fx, f)).metadata.num_rows
               for f in sorted(os.listdir(fx)) if f.endswith(".parquet"))
    table = {"fixture_sha256": digest, "fixture_scale": run.FIXTURE_SCALE,
             "fixture_rows": rows, "oracle_matched": len(verified),
             "queries": {}, "excluded": {}}
    for name in sorted(runs[0]):
        a, b = runs[0][name], runs[1].get(name, {})
        if "error" in a or "error" in b or "checksum" not in b:
            table["excluded"][name] = "error: " + a.get("error",
                                                        b.get("error", "?"))
        elif a["checksum"] != b["checksum"]:
            table["excluded"][name] = "checksum differs between two runs"
        else:
            table["queries"][name] = {
                "oracle_sql_sha256": a["oracle_sql_sha256"],
                "checksum": a["checksum"],
                "oracle_verified": name in verified}
    with open(os.path.join(os.path.dirname(os.path.abspath(__file__)),
                           "checksums.json"), "w") as fh:
        json.dump(table, fh, indent=1, sort_keys=True)
        fh.write("\n")
    print(f"{len(table['queries'])} queries, {len(verified)} oracle-matched, "
          f"{len(table['excluded'])} excluded")
    shutil.rmtree(work, ignore_errors=True)


if __name__ == "__main__":
    main()
