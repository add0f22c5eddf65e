"""Per-layer totals from an uncompressed, non-rolled Spark event log.

The traced run puts each call into a layer in its own Spark job group
(``spark.jobGroup.id``). This parser maps every job to its group,
every stage to its job, and sums the task metrics of each group:
executor run/CPU time, GC, shuffle write, spill, and the Python-worker
time and Arrow bytes that ``mapInPandas`` stages report as SQL
accumulators.
"""

from __future__ import annotations

import json
from dataclasses import dataclass, fields

_PY_RUN = "time to run Python workers"  # ms
_PY_SENT = "data sent to Python workers"  # bytes
_PY_RETURNED = "data returned from Python workers"  # bytes


@dataclass
class GroupTotals:
    jobs: int = 0
    tasks: int = 0
    exec_run_s: float = 0.0
    exec_cpu_s: float = 0.0
    gc_s: float = 0.0
    shuffle_write_mb: float = 0.0
    spill_mb: float = 0.0
    python_s: float = 0.0
    arrow_mb: float = 0.0

    def as_dict(self) -> dict[str, float]:
        return {f.name: getattr(self, f.name) for f in fields(self)}


def parse(path: str) -> dict[str, GroupTotals]:
    """Job-group id → totals over the jobs of that group."""
    groups: dict[str, GroupTotals] = {}
    stage_group: dict[int, str] = {}
    with open(path) as f:
        for line in f:
            ev = json.loads(line)
            kind = ev["Event"]
            if kind == "SparkListenerJobStart":
                gid = (ev.get("Properties") or {}).get("spark.jobGroup.id")
                if gid is None:
                    continue
                groups.setdefault(gid, GroupTotals()).jobs += 1
                for sid in ev["Stage IDs"]:
                    stage_group[sid] = gid
            elif kind == "SparkListenerTaskEnd":
                gid = stage_group.get(ev["Stage ID"])
                if gid is None:
                    continue
                _add_task(groups[gid], ev)
    return groups


def _add_task(g: GroupTotals, ev: dict) -> None:
    m = ev.get("Task Metrics") or {}
    g.tasks += 1
    g.exec_run_s += m.get("Executor Run Time", 0) / 1e3
    g.exec_cpu_s += m.get("Executor CPU Time", 0) / 1e9
    g.gc_s += m.get("JVM GC Time", 0) / 1e3
    g.shuffle_write_mb += (m.get("Shuffle Write Metrics") or {}).get(
        "Shuffle Bytes Written", 0) / 1e6
    g.spill_mb += (m.get("Memory Bytes Spilled", 0)
                   + m.get("Disk Bytes Spilled", 0)) / 1e6
    for acc in (ev.get("Task Info") or {}).get("Accumulables", []):
        name, upd = acc.get("Name"), acc.get("Update")
        if upd is None:
            continue
        if name == _PY_RUN:
            g.python_s += float(upd) / 1e3
        elif name in (_PY_SENT, _PY_RETURNED):
            g.arrow_mb += float(upd) / 1e6
