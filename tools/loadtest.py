#!/usr/bin/env python3
"""Deliberate co-tenant load for bench-robustness checks (VERDICT r7
item 1a): spins N busy processes while you run graft.Bench (all
queries, or one via SPARK_GRAFT_ONLY) in another shell, so "does query
X stay within 1.5x its quiet-box baseline under 2x background load" is
testable on demand.

Usage: python3 tools/loadtest.py <n_procs> <seconds>
"""
import multiprocessing
import sys
import time


def spin(deadline: float) -> None:
    x = 0
    while time.time() < deadline:
        for i in range(100000):
            x = (x * 31 + i) & 0xFFFFFFFF


def main() -> None:
    n = int(sys.argv[1]) if len(sys.argv) > 1 else 32
    secs = float(sys.argv[2]) if len(sys.argv) > 2 else 120.0
    deadline = time.time() + secs
    procs = [multiprocessing.Process(target=spin, args=(deadline,))
             for _ in range(n)]
    for p in procs:
        p.start()
    print(f"[loadtest] {n} busy procs for {secs:.0f}s", flush=True)
    for p in procs:
        p.join()
    print("[loadtest] done", flush=True)


if __name__ == "__main__":
    main()
