"""Benchmark of the transcript-rollup engine: one run of one workload.

    python3 perfbench/run.py --workload tier_rollup --seed 1 --seconds 5 --trace 0

Run from the repository root. The workloads are ``tier_rollup`` and
``query_suite`` (see ``workloads.py`` and ``README.md``). Inputs are
made from ``--seed`` by ``prepare.py`` in a separate process and cached
under ``.perfbench_work/inputs``.

The last line of stdout is one JSON object with ``correct``,
``attempted``, ``failed`` and ``metrics``: every end-to-end metric of
``BENCHMARK.json`` with ``--trace 0``, every per-layer metric with
``--trace 1`` (zero for layers the workload does not call). The line
before it records the host fit and the op counts.
"""

from __future__ import annotations

import argparse
import json
import os
import shutil
import subprocess
import sys

HERE = os.path.dirname(os.path.abspath(__file__))
ROOT = os.path.dirname(HERE)
WORK = os.path.join(ROOT, ".perfbench_work")

# input size per input kind: turns of transcripts, rows of events
SIZES = {"transcripts": 20_000, "sf": 20_000}


def _prepare(kind: str, seed: int) -> str:
    size = SIZES[kind]
    out = os.path.join(WORK, "inputs", f"{kind}-seed{seed}-size{size}")
    if not os.path.isdir(out):
        os.makedirs(os.path.dirname(out), exist_ok=True)
        subprocess.run(
            [sys.executable, os.path.join(HERE, "prepare.py"), "--kind", kind,
             "--seed", str(seed), "--size", str(size), "--out", out],
            check=True, stdout=sys.stderr)
    return out


def _declared() -> dict:
    with open(os.path.join(ROOT, "BENCHMARK.json")) as f:
        return json.load(f)


def main(argv: list[str] | None = None) -> int:
    ap = argparse.ArgumentParser()
    ap.add_argument("--workload", required=True)
    ap.add_argument("--seed", required=True, type=int)
    ap.add_argument("--seconds", required=True, type=int)
    ap.add_argument("--trace", type=int, choices=(0, 1), default=0)
    a = ap.parse_args(argv)

    if not os.path.isdir(os.path.join(ROOT, "yahoo_anomaly_detection_spark")):
        print("engine package yahoo_anomaly_detection_spark not found next "
              "to perfbench/; run from a full checkout", file=sys.stderr)
        return 2
    sys.path.insert(0, ROOT)
    from harness import Host, Runner
    from workloads import WORKLOADS

    if a.workload not in WORKLOADS:
        print(f"unknown workload {a.workload!r}; one of {sorted(WORKLOADS)}",
              file=sys.stderr)
        return 2
    cls, kind = WORKLOADS[a.workload]
    declared = _declared()
    host = Host(root=ROOT, work=WORK)
    host.apply()
    inputs_dir = _prepare(kind, a.seed)
    scratch = os.path.join(WORK, "scratch")
    shutil.rmtree(scratch, ignore_errors=True)
    os.makedirs(scratch)
    try:
        res = Runner(host, cls(inputs_dir, scratch), bool(a.trace)).run(
            a.seconds)
    finally:
        shutil.rmtree(scratch, ignore_errors=True)

    if a.trace:
        names = [m["name"] for m in declared["per_layer"]]
        got = res["layers"]
        metrics = {n: got.get(n, (0.0, _unit(declared, n))) for n in names}
    else:
        names = [m["name"] for m in declared["end_to_end"]]
        metrics = {n: res["e2e"][n] for n in names}
    # wall-time metrics this host's CPU steal leaves without a bound
    bounded = {m["name"] for m in declared["end_to_end"]}
    unbounded = {n: v for n, (v, _) in res["e2e"].items() if n not in bounded}
    print(json.dumps({"workload": a.workload, "seed": a.seed,
                      "host": host.describe(), "unbounded": unbounded,
                      **res["info"]}))
    print(json.dumps({
        "correct": res["correct"],
        "attempted": res["attempted"],
        "failed": res["failed"],
        "metrics": {n: {"value": float(v), "unit": u}
                    for n, (v, u) in metrics.items()},
    }))
    return 0


def _unit(declared: dict, name: str) -> str:
    return next(m["unit"] for m in declared["per_layer"] if m["name"] == name)


if __name__ == "__main__":
    sys.exit(main())
