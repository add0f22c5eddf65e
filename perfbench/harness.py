"""Session set-up, the closed-loop op driver and metric assembly.

One client runs one op at a time (closed loop). A run is always the
same sequence:

1. ``SETUPS`` set-ups: start a SparkSession and load the workload's
   prepared state. The first launches the JVM; later ones stop the
   session and start a new one in the same JVM. ``setup_s`` is the
   median, i.e. a session start in a running JVM plus the state load;
   the JVM launch is reported only per layer (``session.cold_start_s``).
2. The workload's untimed warm-up, then ``warmup_rounds`` untimed
   rounds: as many as the op time took to level off in probe runs
   (see README.md), the same count every run. The count and the
   round times are recorded.
3. Timed ops until ``--seconds`` have passed, in whole rounds (one op,
   or one pass over the workload's op list), at least ``MIN_ROUNDS``.
   A JVM and a Python GC run between ops, outside the timed window.
4. The untimed once-per-run output check.

With ``--trace 1`` Spark writes an event log and every call into a
layer runs in its own job group, so the log can bill executor, GC,
shuffle and Python-worker cost to the layer (see ``eventlog.py``).
A traced run then also runs the workload's ``traced_ops()``, work
whose layers are measured but which no end-to-end metric times.
"""

from __future__ import annotations

import gc
import os
import shutil
import statistics
import sys
import threading
import time
from contextlib import contextmanager

from proctree import ProcTree, steal
import eventlog

SETUPS = 3
MIN_ROUNDS = 2  # timed rounds at least
DRIVER_MEM = "4g"
OFFHEAP_MEM = "1g"
RSS_PERIOD = 0.05


class Host:
    """Host fit, applied before the JVM starts and printed with every run."""

    def __init__(self, root: str, work: str):
        self.root, self.work = root, work
        self.cores = len(os.sched_getaffinity(0))

    def apply(self) -> None:
        local = os.path.join(self.work, "spark-local")
        tmp = os.path.join(self.work, "tmp")
        for d in (local, tmp):
            os.makedirs(d, exist_ok=True)
        os.environ.update({
            "SPARK_DRIVER_MEM": DRIVER_MEM,
            "SPARK_OFFHEAP_MEM": OFFHEAP_MEM,
            "SPARK_LOCAL_DIRS": local,
            "TMPDIR": tmp,
            # mapInPandas workers import the engine package by name
            "PYTHONPATH": os.pathsep.join(
                p for p in (self.root, os.environ.get("PYTHONPATH")) if p),
        })

    def describe(self) -> dict:
        return {"cores": self.cores, "driver_mem": DRIVER_MEM,
                "offheap_mem": OFFHEAP_MEM,
                "local_dirs": os.environ.get("SPARK_LOCAL_DIRS")}


class Tracer:
    """Job groups and span timings around calls into each layer."""

    def __init__(self, enabled: bool):
        self.enabled = enabled
        self.spark = None
        self.phase = "setup"
        self.spans: dict[str, list[float]] = {}

    @contextmanager
    def span(self, layer: str, name: str | None = None):
        """Time a call into ``layer``; its jobs go to the layer's group."""
        if self.enabled:
            self.spark.sparkContext.setJobGroup(f"{self.phase}:{layer}",
                                                layer)
        t0 = time.perf_counter()
        try:
            yield
        finally:
            dt = time.perf_counter() - t0
            if self.enabled:
                self.spark.sparkContext.setJobGroup(
                    f"{self.phase}:bench", "bench")
            if self.phase == "timed":
                key = f"{layer}.{name}" if name else layer
                self.spans.setdefault(key, []).append(dt)


class RssPeak:
    """Peak RSS of the process tree, sampled every ``RSS_PERIOD`` seconds."""

    def __init__(self, tree: ProcTree):
        self.tree = tree
        self._peak = 0
        self._lock = threading.Lock()
        self._stop = threading.Event()
        self._thread = threading.Thread(target=self._run, daemon=True)

    def _run(self) -> None:
        while not self._stop.is_set():
            rss = self.tree.sample()[1]
            with self._lock:
                self._peak = max(self._peak, rss)
            self._stop.wait(RSS_PERIOD)

    def take(self) -> int:
        """Peak since the previous ``take()``."""
        with self._lock:
            peak, self._peak = self._peak, 0
        return peak

    def __enter__(self):
        self._thread.start()
        return self

    def __exit__(self, *exc):
        self._stop.set()
        self._thread.join(timeout=5)


def median(xs):
    return statistics.median(xs) if xs else 0.0


class Runner:
    """Drives one workload through set-up, warm-up and timed ops."""

    def __init__(self, host: Host, workload, trace: bool):
        self.host, self.wl, self.trace = host, workload, trace
        self.tracer = Tracer(trace)
        self.eventlog_dir = os.path.join(host.work, "eventlog")
        self.spark = None

    # -- session --------------------------------------------------------
    def _conf(self) -> dict[str, str]:
        tmp = os.environ["TMPDIR"]
        conf = {
            "spark.driver.extraJavaOptions": f"-Djava.io.tmpdir={tmp}",
            "spark.sql.warehouse.dir": os.path.join(self.host.work, "wh"),
        }
        if self.trace:
            shutil.rmtree(self.eventlog_dir, ignore_errors=True)
            os.makedirs(self.eventlog_dir)
            conf.update({
                "spark.eventLog.enabled": "true",
                "spark.eventLog.dir": self.eventlog_dir,
                "spark.eventLog.compress": "false",
                "spark.eventLog.rolling.enabled": "false",
            })
        return conf

    def _setup_once(self) -> tuple[float, float]:
        from yahoo_anomaly_detection_spark.session import get_spark

        t0 = time.perf_counter()
        self.spark = get_spark("perfbench", cores=self.host.cores,
                               shuffle_partitions=2 * self.host.cores,
                               extra_conf=self._conf())
        t1 = time.perf_counter()
        self.tracer.spark = self.spark
        self.wl.load(self.spark, self.tracer)
        return t1 - t0, time.perf_counter() - t0

    def _shutdown(self) -> None:
        """Stop the session, then end the JVM and wait for it to exit."""
        from pyspark import SparkContext

        self.spark.stop()
        gateway = SparkContext._gateway
        if gateway is not None:
            gateway.shutdown()
            gateway.proc.stdin.close()
            gateway.proc.wait(timeout=60)
            SparkContext._gateway = SparkContext._jvm = None

    def _between_ops(self) -> None:
        self.wl.release(self.spark)
        self.spark.sparkContext._jvm.System.gc()
        gc.collect()

    def _op(self) -> tuple[float, int, bool]:
        """(wall seconds, turns, output check passed) of one op."""
        t0 = time.perf_counter()
        try:
            turns = self.wl.op()
            dt = time.perf_counter() - t0
            ok = self.wl.check()
        except Exception as e:  # a failed op is counted, never fatal
            dt = time.perf_counter() - t0
            print(f"op failed: {e!r}"[:2000], file=sys.stderr, flush=True)
            turns, ok = 0, False
        return dt, turns, ok

    # -- the run --------------------------------------------------------
    def run(self, seconds: int) -> dict:
        phases = {"begin": time.perf_counter()}
        starts, setups = [], []
        for k in range(SETUPS):
            if k:
                self.spark.stop()
            s, t = self._setup_once()
            starts.append(s)
            setups.append(t)

        phases["setup"] = time.perf_counter()
        self.tracer.phase = "warmup"
        warm = self.wl.warmup()
        rounds = []
        for _ in range(self.wl.warmup_rounds):
            t = 0.0
            for _ in range(self.wl.round_ops):
                t += self._op()[0]
                self._between_ops()
            rounds.append(t)
        warm += len(rounds) * self.wl.round_ops
        phases["warmup"] = time.perf_counter()
        self.tracer.phase = "timed"
        tree = ProcTree()
        steal0 = steal()
        times, cpus, peaks, turns, oks = [], [], [], [], []
        with RssPeak(ProcTree()) as rss:
            t_end = time.perf_counter() + seconds
            while len(times) < MIN_ROUNDS * self.wl.round_ops \
                    or time.perf_counter() < t_end \
                    or len(times) % self.wl.round_ops:
                c0 = tree.cpu_s()
                rss.take()
                dt, n_turns, ok = self._op()
                peaks.append(rss.take())
                cpus.append(tree.cpu_s() - c0)
                times.append(dt)
                turns.append(n_turns)
                oks.append(ok)
                self._between_ops()
        phases["timed"] = time.perf_counter()
        steal1 = steal()
        self.tracer.phase = "check"
        final_ok = self.wl.final_check()
        phases["check"] = time.perf_counter()

        n = len(times)
        e2e = {
            "setup_s": (median(setups), "s"),
            "op_s_p50": (median(times), "s"),
            "cpu_s_per_op": (sum(cpus) / n, "s"),
            "peak_rss_mb": (median(peaks) / 1e6, "MB"),
            "ops_ok_frac": (oks.count(True) / n, "fraction"),
        }
        e2e.update(self.wl.e2e_metrics(times, turns))
        layers = {}
        if self.trace:
            traced_oks, traced_final_ok = self.wl.traced_ops()
            oks += traced_oks
            final_ok &= traced_final_ok
            phases["traced_ops"] = time.perf_counter()
            app_id = self.spark.sparkContext.applicationId
            self._shutdown()
            groups = eventlog.parse(os.path.join(self.eventlog_dir, app_id))
            shutil.rmtree(self.eventlog_dir, ignore_errors=True)
            layers = self.wl.layer_metrics(groups, n, self.tracer.spans)
            layers["session.start_s"] = (median(starts), "s")
            layers["session.cold_start_s"] = (starts[0], "s")
            layers["warmup.ops"] = (warm, "count")
            layers["trace.op_s_p50"] = (median(times), "s")
        else:
            self._shutdown()
        failed = oks.count(False)
        return {
            "correct": final_ok and failed == 0,
            "attempted": len(oks),
            "failed": failed,
            "e2e": e2e,
            "layers": layers,
            "info": {"warmup_ops": warm, "timed_ops": n,
                     "timed_steal_frac": round(
                         (steal1[1] - steal0[1]) / (steal1[0] - steal0[0]), 4),
                     "warmup_round_s": [round(t, 3) for t in rounds],
                     "op_s": [round(t, 3) for t in times],
                     "phase_s": {k: round(phases[k] - phases[p], 2)
                                 for p, k in zip(phases, list(phases)[1:])}},
        }


def layer_row(groups: dict, layer: str, n_ops: int) -> dict:
    """The common per-layer row, per timed op of the layer."""
    g = groups.get(f"timed:{layer}", eventlog.GroupTotals())
    units = {"jobs": "count", "tasks": "count", "shuffle_write_mb": "MB",
             "spill_mb": "MB"}
    return {f"{layer}.{k}": (v / n_ops, units.get(k, "s"))
            for k, v in g.as_dict().items() if k != "arrow_mb"}
