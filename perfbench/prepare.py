"""Write a workload's seeded inputs into a cache directory.

    python3 perfbench/prepare.py --kind transcripts --seed 1 --size 40000 --out DIR
    python3 perfbench/prepare.py --kind sf --seed 1 --size 20000 --out DIR

Runs as its own process, without Spark, so making the inputs never
touches the JVM that is measured. ``DIR`` appears only when complete
(written under a temporary name, then renamed), so an interrupted run
leaves no half-written cache entry.

- ``transcripts``: ``transcripts.parquet`` holds the first conversations
  totalling at least ``size`` turns. The write path splits the same
  rows into ``bronze.parquet`` (event time before day 20) and
  ``slice_<k>.parquet``: the following turns in event-time order, cut
  into ``N_SLICES`` slices of 1/120 of the month's turns each (six
  hours on average), so every append is the same size whatever the
  seed.
- ``sf``: ``events.parquet`` with ``size`` rows and ``documents.parquet``
  with ``size // DOCS_PER_EVENT`` rows, the two tables the registry
  queries of the query suite read.
"""

from __future__ import annotations

import argparse
import json
import os
import shutil
import sys

import numpy as np

ROOT = os.path.dirname(os.path.dirname(os.path.abspath(__file__)))
sys.path.insert(0, ROOT)

import inputs  # noqa: E402

BRONZE_DAYS = 20
SLICES_PER_MONTH = 120
N_SLICES = 1  # write-path cycles of a traced tier_rollup run
DOCS_PER_EVENT = 20


def _transcripts(seed: int, size: int, out: str) -> dict:
    n_convs = inputs.convs_for_turns(seed, size)
    pdf = inputs.transcripts(seed, n_convs)
    inputs.write_parquet(inputs.transcripts_table(pdf),
                         os.path.join(out, "transcripts.parquet"))
    cut = inputs.synthgen.EPOCH + np.timedelta64(BRONZE_DAYS, "D")
    ts = pdf["ts"].to_numpy("datetime64[us]")
    inputs.write_parquet(inputs.transcripts_table(pdf[ts < cut]),
                         os.path.join(out, "bronze.parquet"))
    after = pdf[ts >= cut].sort_values(["ts", "conv_id", "turn_idx"],
                                       kind="mergesort")
    per = max(1, round(len(pdf) / SLICES_PER_MONTH))
    slice_turns = []
    for k in range(N_SLICES):
        part = after.iloc[k * per:(k + 1) * per]
        if part.empty:
            raise ValueError(f"only {k} refresh slices of {per} turns fit "
                             f"in {size} turns; raise the size")
        inputs.write_parquet(inputs.transcripts_table(part),
                             os.path.join(out, f"slice_{k}.parquet"))
        slice_turns.append(len(part))
    return {"turns": len(pdf), "convs": n_convs,
            "bronze_turns": int((ts < cut).sum()),
            "slice_turns": slice_turns}


def _sf(seed: int, size: int, out: str) -> dict:
    ev = inputs.events(seed, size)
    docs = inputs.documents(seed, size // DOCS_PER_EVENT)
    inputs.write_parquet(ev, os.path.join(out, "events.parquet"))
    inputs.write_parquet(docs, os.path.join(out, "documents.parquet"))
    return {"events": len(ev), "documents": len(docs)}


KINDS = {"transcripts": _transcripts, "sf": _sf}


def main(argv: list[str] | None = None) -> int:
    ap = argparse.ArgumentParser()
    ap.add_argument("--kind", required=True, choices=sorted(KINDS))
    ap.add_argument("--seed", required=True, type=int)
    ap.add_argument("--size", required=True, type=int)
    ap.add_argument("--out", required=True)
    a = ap.parse_args(argv)
    tmp = f"{a.out}.tmp{os.getpid()}"
    shutil.rmtree(tmp, ignore_errors=True)
    os.makedirs(tmp)
    meta = KINDS[a.kind](a.seed, a.size, tmp)
    meta.update(kind=a.kind, seed=a.seed, size=a.size)
    with open(os.path.join(tmp, "meta.json"), "w") as f:
        json.dump(meta, f)
    os.replace(tmp, a.out)
    return 0


if __name__ == "__main__":
    sys.exit(main())
