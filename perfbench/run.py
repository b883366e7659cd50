#!/usr/bin/env python3
"""Benchmark of the three ways the graft engine runs.

    python3 perfbench/run.py --workload WORKLOAD --seed N --seconds S --trace 0|1

Run from the repository root. Workloads:

* ``daily_pipeline`` -- the Spark tasks of the ``graft_pipeline`` DAG in
  dependency order, one simulated day after another, state carried
  across days;
* ``query_mix``      -- a closed-loop session of queries drawn from
  ``SparkEntry.queries`` over a generated catalog fixture;
* ``stream_ingest``  -- the hourly ``graft_stream_ingest`` DAG: each
  simulated hour lands parquet files that one AvailableNow drain of
  ``StreamIngestJob`` ingests.

The script builds the engine and the benchmark from source
(``perfbench/build.py``), generates the workload's inputs from the seed
(``perfbench/gen.py``), runs the JVM side (``perfbench/scala``) in one
``local[nproc]`` session driven by one thread, checks every output, and
prints as its last stdout line
``{"correct", "attempted", "failed", "metrics"}``: the end-to-end
metrics of ``BENCHMARK.json`` with ``--trace 0``, the per-layer metrics
with ``--trace 1``. A traced run runs the work traced, then its first
batch three more times on fresh state, untraced, traced and untraced;
``trace_overhead`` compares the traced repeat with the mean of the
untraced ones. The full record of a run (host, input composition,
per-batch state sizes, trace shares) goes to
``.bench_build/artifacts/``.

The work per run is fixed by ``--seconds`` (``sizes``), not by how fast
the engine is, so every counter compares across commits; the constants
make one run measure about ``--seconds`` on a 4-core host.
"""
import argparse
import json
import os
import random
import shutil
import subprocess
import sys
import time

sys.path.insert(0, os.path.dirname(os.path.abspath(__file__)))
import build  # noqa: E402
import gen  # noqa: E402

HERE = os.path.dirname(os.path.abspath(__file__))
HEAP = "3g"
QUERY_ROUND = 8      # queries per round, the query_mix batch
FIXTURE_SCALE = 0.01


def sizes(workload, seconds):
    """Fixed work for a run of ``seconds`` on the reference host."""
    if workload == "query_mix":
        return {"queries": QUERY_ROUND * max(1, round(seconds * 0.8 /
                                                      QUERY_ROUND))}
    if workload == "daily_pipeline":
        return {"days": max(2, round(seconds / 10)), "docs_per_day": 500,
                "embeddings_per_day": 100}
    if workload == "stream_ingest":
        return {"hours": max(3, round(seconds / 4)), "rows_per_hour": 400,
                "files_per_hour": 3}
    raise SystemExit(f"unknown workload: {workload}")


def cpu_times():
    with open("/proc/stat") as fh:
        return [int(x) for x in fh.readline().split()[1:]]


def steal_share(a, b):
    """Share of CPU time stolen by the hypervisor between two samples."""
    d = [y - x for x, y in zip(a, b)]
    return d[7] / max(1, sum(d)) if len(d) > 7 else 0.0


def host_sample():
    """Load average and the steal share over a quarter second."""
    a = cpu_times()
    time.sleep(0.25)
    with open("/proc/loadavg") as fh:
        load = [float(x) for x in fh.read().split()[:3]]
    return {"loadavg": load, "steal_share": steal_share(a, cpu_times())}


def query_draw(table, n):
    """The session's queries: a uniform draw with replacement from the
    catalog, the same in every run. There is no recorded traffic to
    weight it by. The draw's seed is fixed, not the run's ``--seed``: in
    a session this short, one-time costs (codegen, JIT, session-cache
    fills) land on whichever query comes first and dominate, so a seeded
    draw moved query_p50_s by 15 to 35 percent between seeds."""
    pick = random.Random(0)
    names = sorted(table)
    return [pick.choice(names) for _ in range(n)]


def fixture(root):
    """The catalog fixture, generated once per checkout (twice, compared)."""
    with open(os.path.join(HERE, "checksums.json")) as fh:
        table = json.load(fh)
    path = os.path.join(root, build.BUILD_DIR, "fixture-" +
                        table["fixture_sha256"][:16])
    if not os.path.exists(os.path.join(path, ".complete")):
        shutil.rmtree(path, ignore_errors=True)
        same, digest, _ = gen.generated_twice(gen.fixture, path,
                                              FIXTURE_SCALE)
        if not same:
            raise SystemExit("fixture generation is not deterministic")
        if digest != table["fixture_sha256"]:
            raise SystemExit(
                "generated fixture differs from the one the checksum table "
                f"was taken on ({digest} != {table['fixture_sha256']})")
        open(os.path.join(path, ".complete"), "w").close()
    return path, table


def inputs(root, workload, seed, size, out):
    """Generate the run's inputs under ``out``; return (manifest,
    composition, generator self-check verdict)."""
    if workload == "query_mix":
        path, table = fixture(root)
        draw = query_draw(table["queries"], size["queries"])
        fams = {}
        for q in draw:
            fams[family(q)] = fams.get(family(q), 0) + 1
        manifest = {"fixture": path, "draw": draw, "round": QUERY_ROUND,
                    "fixture_rows": table["fixture_rows"],
                    "checksums": table["queries"],
                    "families": {q: family(q) for q in draw},
                    "family_names": FAMILIES}
        comp = {"draw": draw, "family_counts": fams,
                "fixture_scale": FIXTURE_SCALE}
        return manifest, comp, True
    if workload == "daily_pipeline":
        args = (seed, size["days"], size["docs_per_day"],
                size["embeddings_per_day"])
        same, _, manifest = gen.generated_twice(gen.daily_inputs, out, *args)
        comp = {**size, "shares": gen.DAILY_MIX,
                "planted": [{k: len(v) for k, v in d.items()}
                            for d in manifest["days"]]}
        return manifest, comp, same
    args = (seed, size["hours"], size["rows_per_hour"],
            size["files_per_hour"])
    same, _, manifest = gen.generated_twice(gen.stream_inputs, out, *args)
    comp = {**size, "shares": gen.STREAM_MIX,
            "per_hour": [{k: (len(v) if isinstance(v, list) else v)
                          for k, v in h.items()} for h in manifest["hours"]]}
    return manifest, comp, same


FAMILIES = ["q", "t", "x_dedup", "x_text", "x_embed", "x_sim", "x_sketch",
            "x_graph", "x_events", "x_quality", "x_sample", "x_other"]


def family(name):
    """The catalog family of a query: its name's prefix."""
    for f in FAMILIES[2:-1]:
        if name.startswith(f + "_"):
            return f
    return "q" if name.startswith("q") else "t" if name.startswith("t_") \
        else "x_other"


def java_cmd(root, classes, args):
    opens = []
    for p in ["java.lang", "java.lang.invoke", "java.lang.reflect", "java.io",
              "java.net", "java.nio", "java.util", "java.util.concurrent",
              "java.util.concurrent.atomic", "sun.nio.ch", "sun.nio.cs",
              "sun.security.action", "sun.util.calendar"]:
        opens.append(f"--add-opens=java.base/{p}=ALL-UNNAMED")
    cp = os.pathsep.join([classes, os.path.join(root, "src/main/resources")] +
                         build.jars(root))
    return (["java"] + opens +
            [f"-Xmx{HEAP}", "-XX:-UsePerfData", "-Dspark.ui.enabled=false",
             "-Dspark.sql.session.timeZone=UTC",
             f"-Djava.io.tmpdir={os.path.join(args['work'], 'tmp')}",
             "-cp", cp, "perfbench.Main", args["workload"], args["inputs"],
             args["work"], args["result"], str(args["trace"]),
             str(args["cores"])])


def main():
    ap = argparse.ArgumentParser()
    ap.add_argument("--workload", required=True)
    ap.add_argument("--seed", type=int, required=True)
    ap.add_argument("--seconds", type=int, required=True)
    ap.add_argument("--trace", type=int, choices=(0, 1), default=0)
    a = ap.parse_args()
    root = os.getcwd()
    with open(os.path.join(root, "BENCHMARK.json")) as fh:
        spec = json.load(fh)
    size = sizes(a.workload, a.seconds)
    before = host_sample()
    classes = build.build(root)
    # the build may take long on a checkout's first run; the 180 s a run
    # has count from here
    t_start, cpu_start = time.time(), cpu_times()

    cores = len(os.sched_getaffinity(0))
    bench = os.path.join(root, build.BUILD_DIR)
    work = os.path.join(bench, "work", f"{a.workload}-{a.seed}-{a.trace}")
    shutil.rmtree(work, ignore_errors=True)
    os.makedirs(os.path.join(work, "tmp"))
    t_gen = time.time()
    manifest, comp, gen_ok = inputs(root, a.workload, a.seed, size,
                                    os.path.join(work, "inputs"))
    os.makedirs(os.path.join(work, "inputs"), exist_ok=True)
    with open(os.path.join(work, "inputs", "manifest.json"), "w") as fh:
        json.dump(manifest, fh)
    gen_s = time.time() - t_gen
    result_path = os.path.join(work, "result.json")
    cmd = java_cmd(root, classes, {
        "workload": a.workload, "inputs": os.path.join(work, "inputs"),
        "work": work, "result": result_path, "trace": a.trace,
        "cores": cores})
    log_path = os.path.join(work, "jvm.log")
    with open(log_path, "w") as log:
        try:
            rc = subprocess.run(cmd, stdout=log, stderr=subprocess.STDOUT,
                                timeout=max(30, 170 - (time.time() - t_start))
                                ).returncode
        except subprocess.TimeoutExpired:
            rc = "timeout"
    steal_run = steal_share(cpu_start, cpu_times())
    after = host_sample()
    artifacts = os.path.join(bench, "artifacts")
    os.makedirs(artifacts, exist_ok=True)
    name = f"{a.workload}-seed{a.seed}-trace{a.trace}"
    if rc != 0 or not os.path.exists(result_path):
        shutil.copy(log_path, os.path.join(artifacts, name + ".log"))
        shutil.rmtree(work, ignore_errors=True)
        sys.stderr.write(f"benchmark JVM failed ({rc}); log in "
                         f"{os.path.join(artifacts, name + '.log')}\n")
        sys.exit(1)
    with open(result_path) as fh:
        res = json.load(fh)

    if a.trace:
        declared = spec["per_layer"]
        values = res["per_layer"]
    else:
        declared = spec["end_to_end"]
        values = res["result"]
    metrics = {m["name"]: {"value": float(values.get(m["name"], 0.0)),
                           "unit": m["unit"]} for m in declared}
    failed = res["failed"] + (0 if gen_ok else 1) + res.get("traced_failed", 0)
    attempted = max(1, res["attempted"])
    failed = min(failed, attempted)
    record = {
        "workload": a.workload, "seed": a.seed, "seconds": a.seconds,
        "trace": a.trace, "composition": comp,
        "generator_self_check": gen_ok, "generation_s": gen_s,
        "host": {"nproc": cores, "driver_heap": HEAP, "before": before,
                 "after": after, "steal_share_during_run": steal_run},
        "result": res, "metrics": metrics,
        "wall_s": time.time() - t_start,
    }
    with open(os.path.join(artifacts, name + ".json"), "w") as fh:
        json.dump(record, fh, indent=1)
    if a.trace:
        shutil.move(os.path.join(work, "spans.jsonl"),
                    os.path.join(artifacts, name + ".spans.jsonl"))
    shutil.rmtree(work, ignore_errors=True)
    print(json.dumps({"correct": failed == 0, "attempted": attempted,
                      "failed": failed, "metrics": metrics}))


if __name__ == "__main__":
    main()
