"""The benchmark's workloads: tier_rollup and query_suite.

Each workload drives the engine only through its public functions and
implements the hooks :class:`harness.Runner` calls:

- ``load(spark, tracer)``: the prepared state a set-up loads;
- ``warmup()``: untimed work done once before the warm-up ops; returns
  how many ops it counts as;
- ``op()``: one timed op; returns the input turns it processed;
- ``check()``: the untimed output check of the op just run;
- ``final_check()``: the once-per-run check after the timed ops;
- ``traced_ops()``: extra work of a traced run only, returning each
  op's check and the once-per-run check (tier_rollup: the write path
  of :class:`WritePath`);
- ``e2e_metrics`` / ``layer_metrics``: workload-specific metrics.
"""

from __future__ import annotations

import contextlib
import importlib.util
import json
import os
import shutil
import sys

import numpy as np
from pyspark.sql import Observation
from pyspark.sql import functions as F

from yahoo_anomaly_detection_spark import caching
from yahoo_anomaly_detection_spark.operators.codec import (
    compress_buckets,
    decompress_buckets,
)
from yahoo_anomaly_detection_spark.operators.rollup import (
    TIER_STATE_COLS,
    rollup_cascade,
    rollup_points,
    transcripts_latency,
)
from yahoo_anomaly_detection_spark.sources.catalog import ParquetCatalog
from yahoo_anomaly_detection_spark.sources.ingest import bronze_transcripts

from harness import layer_row, median

ROOT = os.path.dirname(os.path.dirname(os.path.abspath(__file__)))
POINT_COLS = ("conv_id", "ts", "value")  # a latency point


def _import_path(name: str, path: str):
    spec = importlib.util.spec_from_file_location(name, path)
    mod = importlib.util.module_from_spec(spec)
    spec.loader.exec_module(mod)
    return mod


def _fingerprint_exprs(cols):
    """Aggregates of an order-free multiset fingerprint of ``cols``:
    the row count and the sum of each row's xxhash64."""
    h = F.xxhash64(*cols).cast("decimal(38,0)")
    return [F.count(F.lit(1)).alias("n"), F.sum(h).alias("h")]


def _fingerprint(df, cols):
    row = df.agg(*_fingerprint_exprs(cols)).collect()[0]
    return int(row[0]), row[1]


class Workload:
    warmup_rounds = 0  # untimed rounds after warmup()
    round_ops = 1  # ops in one pass over the workload's op list

    def __init__(self, inputs_dir: str, scratch: str):
        self.inputs_dir = inputs_dir
        self.scratch = scratch
        with open(os.path.join(inputs_dir, "meta.json")) as f:
            self.meta = json.load(f)

    def traced_ops(self) -> tuple[list[bool], bool]:
        return [], True

    def release(self, spark) -> None:
        caching.release_all()
        caching.release_orphan_rdds(spark)

    def e2e_metrics(self, times, turns) -> dict:
        return {"turns_per_s": (sum(turns) / sum(times), "1/s"),
                "suite_s": (median(times), "s")}

    def _path(self, name: str) -> str:
        return os.path.join(self.scratch, name)


class TierRollup(Workload):
    """North-rule batch pass: latency series, 1m tier handed off through
    scratch parquet (as ``jobs/rollup_job.py --sink noop``), 1h and 1d
    by cascade, Gorilla encode per (conv, hour) and decode."""

    warmup_rounds = 1

    def load(self, spark, tracer) -> None:
        self.spark, self.tracer = spark, tracer
        self.raw = spark.read.parquet(
            os.path.join(self.inputs_dir, "transcripts.parquet"))

    def _points(self):
        return transcripts_latency(bronze_transcripts(self.raw))

    def warmup(self) -> int:
        self.expected = _fingerprint(
            self._points().where(F.col("value").isNotNull()), POINT_COLS)
        return 0

    def op(self) -> int:
        spark, span = self.spark, self.tracer.span
        pts = self._points()
        with span("rollup"):
            rollup_points(pts, "1m").write.mode("overwrite").parquet(
                self._path("t1m"))
            prev = "t1m"
            for tier in ("1h", "1d"):
                rollup_cascade(spark.read.parquet(self._path(prev)),
                               tier).write.mode("overwrite").parquet(
                    self._path(f"t{tier}"))
                prev = f"t{tier}"
        with span("codec", "encode"):
            compress_buckets(pts.where(F.col("value").isNotNull()),
                             "hour").write.mode("overwrite").parquet(
                self._path("enc"))
        with span("codec", "decode"):
            self.decoded = _fingerprint(
                decompress_buckets(spark.read.parquet(self._path("enc"))),
                POINT_COLS)
        return self.meta["turns"]

    def check(self) -> bool:
        cnt = self.spark.read.parquet(self._path("t1d")).agg(
            F.sum("cnt")).collect()[0][0]
        return cnt == self.meta["turns"] and self.decoded == self.expected

    def final_check(self) -> bool:
        read = self.spark.read.parquet
        self.rows_1m = read(self._path("t1m")).count()
        enc = read(self._path("enc")).agg(
            F.sum(F.length("payload")), F.sum("n_points")).collect()[0]
        self.bytes_per_point = enc[0] / enc[1]
        return True

    def traced_ops(self) -> tuple[list[bool], bool]:
        self.write = WritePath(self.spark, self.tracer, self.inputs_dir,
                               self.meta, self._path("warehouse"))
        return self.write.run()

    def layer_metrics(self, groups, n, spans) -> dict:
        out = layer_row(groups, "rollup", n)
        out.update(layer_row(groups, "codec", n))
        out.update(self.write.layer_metrics(groups, spans))
        codec = groups.get("timed:codec")
        out.update({
            "rollup.rows_1m": (self.rows_1m, "count"),
            "codec.encode_s": (median(spans["codec.encode"]), "s"),
            "codec.decode_s": (median(spans["codec.decode"]), "s"),
            "codec.arrow_mb": (codec.arrow_mb / n if codec else 0.0, "MB"),
            "codec.bytes_per_point": (self.bytes_per_point, "B/point"),
        })
        return out


class WritePath:
    """The write path, run once by every traced tier_rollup run:
    ``catalog.append`` of the next event-time slice into the bronze
    table, then ``refresh_once``, for each prepared slice in order.

    The warehouse (the bronze days before the slices, plus its initial
    refresh) is built from the cached input at the start, so every run
    replays the same commit log. Each cycle is checked (incremental
    mode, bronze head processed); once per run the refreshed tiers are
    compared with a full recompute of the final bronze."""

    def __init__(self, spark, tracer, inputs_dir, meta, root):
        self.spark, self.tracer = spark, tracer
        self.inputs_dir, self.meta, self.root = inputs_dir, meta, root
        self.refresh_job = _import_path(
            "refresh_job", os.path.join(ROOT, "jobs", "refresh_job.py"))
        self.catalog = ParquetCatalog(root)

    def run(self) -> tuple[list[bool], bool]:
        tracer = self.tracer
        tracer.phase = "write-setup"
        shutil.rmtree(self.root, ignore_errors=True)
        os.makedirs(self.root)
        self._append(os.path.join(self.inputs_dir, "bronze.parquet"))
        self._refresh()
        self.files, self.snaps = self._files(), self._snapshot_ids()
        self.stats: list[dict] = []
        tracer.phase = "timed"
        oks = []
        for k in range(len(self.meta["slice_turns"])):
            try:
                with tracer.span("catalog"):
                    self._append(os.path.join(self.inputs_dir,
                                              f"slice_{k}.parquet"))
                with tracer.span("refresh"):
                    m = self._refresh()
                oks.append(self._check(m))
            except Exception as e:  # a failed cycle is counted
                print(f"write cycle failed: {e!r}"[:2000], file=sys.stderr)
                oks.append(False)
        tracer.phase = "check"
        return oks, self._final_check()

    def _refresh(self) -> dict:
        # refresh_once prints its metrics line; keep stdout for the result
        with contextlib.redirect_stdout(sys.stderr):
            return self.refresh_job.refresh_once(self.spark, self.catalog)

    def _append(self, path: str) -> None:
        self.catalog.append(bronze_transcripts(self.spark.read.parquet(path)),
                            "transcripts", partition_by=["day"])

    def _files(self) -> set[str]:
        return {os.path.join(d, f) for d, _, fs in os.walk(self.root)
                for f in fs if f.endswith(".parquet")}

    def _snapshot_ids(self) -> set[str]:
        return {s.snapshot_id for t in os.listdir(self.root)
                for s in self.catalog.snapshots(t)}

    def _check(self, m: dict) -> bool:
        files, snaps = self._files(), self._snapshot_ids()
        st = m["stages"]
        tier_s = sum(v for k, v in st.items()
                     if k.startswith("tier_") and not k.endswith("_rows"))
        self.stats.append({
            "files": len(files - self.files), "commits": len(snaps - self.snaps),
            "delta_1m_s": st.get("delta_1m", 0.0), "tier_s": tier_s,
            "tails_s": st.get("tails", 0.0)})
        self.files, self.snaps = files, snaps
        return (m["mode"] == "incremental"
                and m["processed_snapshot"]
                == self.catalog.current_snapshot_id("transcripts"))

    def _final_check(self) -> bool:
        """Refreshed tiers equal a full recompute of the final bronze."""
        spark, cat = self.spark, self.catalog
        self.read_paths = len(cat.snapshots("transcripts")[-1].paths)
        full = rollup_points(
            transcripts_latency(cat.read(spark, "transcripts")), "1m")
        ok = True
        for tier in ("1m", "1h", "1d"):
            if tier != "1m":
                full = rollup_cascade(full, tier)
            ok &= _same_tier(full, cat.read(spark, f"tier_{tier}"))
        return ok

    def layer_metrics(self, groups, spans) -> dict:
        n = len(self.meta["slice_turns"])
        out = layer_row(groups, "catalog", n)
        out.update(layer_row(groups, "refresh", n))

        def med(key):
            return median([s[key] for s in self.stats])

        stages = med("delta_1m_s") + med("tier_s") + med("tails_s")
        out.update({
            "catalog.write_s": (median(spans["catalog"]), "s"),
            "catalog.commits": (med("commits"), "count"),
            "catalog.files_written": (med("files"), "count"),
            "catalog.read_paths": (self.read_paths, "count"),
            "refresh.delta_1m_s": (med("delta_1m_s"), "s"),
            "refresh.tier_s": (med("tier_s"), "s"),
            "refresh.tails_s": (med("tails_s"), "s"),
            "refresh.other_s": (median(spans["refresh"]) - stages, "s"),
        })
        return out


def _same_tier(a, b) -> bool:
    """Tier tables equal on every state column; sums to 1e-9 relative
    (the refresh adds partials in another order than a full scan)."""
    cols = list(TIER_STATE_COLS)
    key = ["conv_id", "bucket_start"]
    x = a.select(cols).toPandas().sort_values(key).reset_index(drop=True)
    y = b.select(cols).toPandas().sort_values(key).reset_index(drop=True)
    if len(x) != len(y) or not x[key + ["cnt", "vcnt"]].equals(
            y[key + ["cnt", "vcnt"]]):
        return False
    return all(np.allclose(x[c].astype(float), y[c].astype(float),
                           rtol=1e-9, atol=1e-9, equal_nan=True)
               for c in ("sum", "sum_sq", "min", "max"))


# The registry queries timed by query_suite, run in this order every pass.
QUERIES = ("ewma_1m", "sessionize", "weighted_sample")
DOC_QUERIES = {"weighted_sample"}


class QuerySuite(Workload):
    """Read path: each op builds one registry query and materializes it
    with the noop sink. The untimed first pass collects every output,
    compares it with the query's ``oracle_sql()`` result and observes
    the output's fingerprint (row count and Σxxhash64 over all
    columns). Every timed op observes the same fingerprint of its own
    output during its noop write, and passes its check if the two are
    equal."""

    round_ops = len(QUERIES)  # the oracle pass is the warm-up

    def load(self, spark, tracer) -> None:
        self.spark, self.tracer = spark, tracer
        self.sf = self.inputs_dir
        for t in ("events", "documents"):
            spark.read.parquet(os.path.join(self.sf, f"{t}.parquet"))

    def warmup(self) -> int:
        import duckdb

        import __spark_entry__ as entry

        self.registry = entry.queries()
        self.oracles = entry.oracle_sql()

        check_oracle = _import_path(
            "check_oracle", os.path.join(ROOT, "scripts", "check_oracle.py"))
        con = duckdb.connect()
        for t in ("events", "documents"):
            p = os.path.join(self.sf, f"{t}.parquet")
            con.execute(f"CREATE VIEW {t} AS SELECT * FROM '{p}'")
        self.expected = {}
        for q in QUERIES:
            obs = Observation(q)
            try:
                df = self.registry[q](self.spark, self.sf)
                got = df.observe(obs, *_fingerprint_exprs(df.columns)) \
                    .toPandas()
                want = con.execute(self.oracles[q]).fetchdf()
                verdict = check_oracle.compare(q, got, want)
            except Exception as e:  # counted as failed ops of this query
                verdict = f"ERROR {e!r}"[:2000]
            if verdict != "OK":
                print(f"{q}: {verdict}", file=sys.stderr)
            self.expected[q] = obs.get if verdict == "OK" else None
            self.release(self.spark)
        con.close()
        self.i = 0
        return len(QUERIES)

    def op(self) -> int:
        self.q = QUERIES[self.i % len(QUERIES)]
        self.i += 1
        with self.tracer.span("registry", "build"):
            df = self.registry[self.q](self.spark, self.sf)
        self.observed = Observation(self.q)
        with self.tracer.span("registry", "action"):
            df.observe(self.observed, *_fingerprint_exprs(df.columns)) \
                .write.format("noop").mode("overwrite").save()
        n = "documents" if self.q in DOC_QUERIES else "events"
        return self.meta[n]

    def check(self) -> bool:
        want = self.expected[self.q]
        return want is not None and self.observed.get == want

    def final_check(self) -> bool:
        return all(v is not None for v in self.expected.values())

    def e2e_metrics(self, times, turns) -> dict:
        return {"turns_per_s": (sum(turns) / sum(times), "1/s"),
                "suite_s": (_per_query_total(times), "s")}

    def layer_metrics(self, groups, n, spans) -> dict:
        out = layer_row(groups, "registry", n)
        out.update({
            "registry.build_s": (_per_query_total(spans["registry.build"]), "s"),
            "registry.action_s": (_per_query_total(spans["registry.action"]), "s"),
        })
        return out


def _per_query_total(times: list[float]) -> float:
    """Sum over QUERIES of each query's median time (times in pass order)."""
    nq = len(QUERIES)
    return sum(median(times[j::nq]) for j in range(nq))


WORKLOADS = {
    "tier_rollup": (TierRollup, "transcripts"),
    "query_suite": (QuerySuite, "sf"),
}
