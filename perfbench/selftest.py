#!/usr/bin/env python3
"""Determinism self-test for the benchmark's seeded generator.

    python3 perfbench/selftest.py [--workload serve_lookup] [--seed 7]

1. The request stream is a function of the seed: two draws with one seed
   are equal, and a draw with the next seed differs.
2. At 1 client, two fresh processes running the same fixed number of
   request blocks with tracing on report exactly the same
   ``serialize.bytes_out``, ``serialize.rows_out`` and
   ``spark.jobs_per_op``.

Exits 0 when both hold. Takes about a minute per run.
"""

from __future__ import annotations

import argparse
import json
import os
import random
import subprocess
import sys

HERE = os.path.dirname(os.path.abspath(__file__))
EXACT = ("serialize.bytes_out", "serialize.rows_out", "spark.jobs_per_op")


class _Ctx:
    """Enough of a run context to draw requests without Spark."""

    def __init__(self, sf_dir):
        self.sf_dir = sf_dir
        self.keys = None
        self.cycles = 0
        self.written = []


def _draw(workload: str, seed: int, sf_dir: str, blocks: int = 3) -> list:
    from workloads import WORKLOADS

    wl = WORKLOADS[workload]()
    ctx = _Ctx(sf_dir)
    rng = random.Random(seed * 1009)
    return [(r.cls, r.table, r.params, r.kwargs, r.sql, r.query, r.payload)
            for _ in range(blocks) for r in wl.block(rng, ctx)]


def _run(workload: str, seed: int) -> dict:
    cmd = [sys.executable, os.path.join(HERE, "run.py"), "--workload", workload,
           "--seed", str(seed), "--trace", "1", "--blocks", "2", "--clients", "1"]
    out = subprocess.run(cmd, capture_output=True, text=True, timeout=600, check=True)
    result = json.loads(out.stdout.strip().splitlines()[-1])
    if not result["correct"]:
        raise SystemExit(f"run not correct: {result}")
    return {k: result["metrics"][k]["value"] for k in EXACT}


def main() -> int:
    ap = argparse.ArgumentParser(description="determinism self-test")
    ap.add_argument("--workload", default="serve_lookup")
    ap.add_argument("--seed", type=int, default=7)
    args = ap.parse_args()

    from datagen import ensure_dataset

    sf_dir = ensure_dataset(os.path.join(HERE, ".work", "data"))
    a = _draw(args.workload, args.seed, sf_dir)
    ok = True
    if a != _draw(args.workload, args.seed, sf_dir):
        print("FAIL: one seed drew two different request streams")
        ok = False
    if a == _draw(args.workload, args.seed + 1, sf_dir):
        print("FAIL: seeds", args.seed, "and", args.seed + 1, "drew the same requests")
        ok = False
    first, second = _run(args.workload, args.seed), _run(args.workload, args.seed)
    for k in EXACT:
        same = first[k] == second[k]
        ok &= same
        print(f"{'ok  ' if same else 'FAIL'} {k}: {first[k]!r} vs {second[k]!r}")
    print("PASS" if ok else "FAIL")
    return 0 if ok else 1


if __name__ == "__main__":
    sys.exit(main())
