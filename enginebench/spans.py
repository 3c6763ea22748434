"""Tracing for the traced run: in-memory spans around public engine calls,
Spark event-log readings per operation, and single-threaded profiles of the
kernel and encoder steps. Untraced runs import none of this."""

from __future__ import annotations

import json
import os
import statistics
import time
from collections import defaultdict

import numpy as np
import pandas as pd


class Tracer:
    """Spans live in memory; ``install`` patches the engine's public
    functions in place and ``uninstall`` restores them. Spans are recorded
    only while an operation is open (``op`` is not None)."""

    def __init__(self):
        self.spans: list[dict] = []
        self.counts: dict = defaultdict(float)  # (op, name) -> value
        self.op = None
        self._stack: list[int] = []
        self._undo: list[tuple] = []

    # -- recording ------------------------------------------------------

    def begin(self, name: str) -> int:
        parent = self._stack[-1] if self._stack else None
        self.spans.append(
            {"op": self.op, "name": name, "parent": parent,
             "start": time.perf_counter(), "end": None}
        )
        self._stack.append(len(self.spans) - 1)
        return self._stack[-1]

    def end(self, idx: int) -> None:
        self.spans[idx]["end"] = time.perf_counter()
        self._stack.pop()

    def count(self, name: str, n: float) -> None:
        if self.op is not None:
            self.counts[(self.op, name)] += n

    def _wrap(self, owner, attr: str, namer, after=None) -> None:
        orig = owner.__dict__[attr]
        tracer = self

        def wrapper(*a, **kw):
            if tracer.op is None:
                return orig(*a, **kw)
            idx = tracer.begin(namer(a))
            try:
                out = orig(*a, **kw)
            finally:
                tracer.end(idx)
            if after is not None:
                after(a, out)
            return out

        wrapper.__wrapped__ = orig
        setattr(owner, attr, wrapper)
        self._undo.append((owner, attr, orig))

    def install(self) -> None:
        from pyhydroqc_spark import checkpoint, compression, pipeline, tables
        from pyhydroqc_spark.operators import fused

        T = tables.SnapshotTable
        load = T._load

        def table_kind(a):
            base = os.path.basename(a[0].root.rstrip("/"))
            if base.startswith("rollup_"):
                return "tables.cell_write"
            if base.startswith("comp_tier_"):
                return "tables.blob_write"
            return "tables.other_write"

        def on_commit(a, sid):
            # new files in this commit versus its parent snapshot
            self.count("tables.commits", 1)
            try:
                prev = set(load(a[0], sid - 1)["files"])
            except FileNotFoundError:  # first commit, or parent expired
                prev = set()
            new = [f for f in a[1] if f not in prev]
            self.count("tables.files_written", len(new))
            self.count("tables.bytes_written", sum(os.path.getsize(f) for f in new))

        self._wrap(pipeline, "run_pipeline", lambda a: "pipeline.run")
        for m in ("overwrite_partition", "overwrite_partition_counted", "overwrite_partitions"):
            self._wrap(T, m, table_kind)
        for m in ("current_snapshot_id", "_load", "files", "files_for_partitions",
                  "added_files", "partitions", "snapshot_extra", "latest_extra_value"):
            self._wrap(T, m, lambda a: "tables.metadata")
        self._wrap(T, "read", lambda a: "tables.read")
        for m in ("drop_partitions", "expire_snapshots", "rewrite_manifests"):
            self._wrap(T, m, lambda a: "tables.retention")
        self._wrap(T, "_commit", lambda a: "tables.commit", after=on_commit)
        C = checkpoint.CheckpointLog
        for m in ("write", "read", "done_partitions", "pending", "last_input_snapshot"):
            self._wrap(C, m, lambda a: "checkpoint")
        for m in ("encode_tier_df", "encode_series_df"):
            self._wrap(compression, m, lambda a: "compression.plan")
        self._wrap(fused, "fused_tokens_to_cells", lambda a: "operators.plan")

    def uninstall(self) -> None:
        for owner, attr, orig in reversed(self._undo):
            setattr(owner, attr, orig)
        self._undo.clear()

    # -- summaries --------------------------------------------------------

    def op_layers(self, op) -> dict:
        """Per-layer seconds for one op. A span counts toward its name only
        when no enclosing span belongs to the same layer (the text before
        the first dot), so nested calls are not counted twice. Also gives
        each name's self time (duration minus its direct children) and its
        plain sum over all its spans."""
        spans = [(i, s) for i, s in enumerate(self.spans) if s["op"] == op]
        child_s: dict = defaultdict(float)
        for _, s in spans:
            if s["parent"] is not None:
                child_s[s["parent"]] += s["end"] - s["start"]
        total: dict = defaultdict(float)
        self_s: dict = defaultdict(float)
        all_s: dict = defaultdict(float)
        for i, s in spans:
            dur = s["end"] - s["start"]
            all_s[s["name"]] += dur
            self_s[s["name"]] += dur - child_s[i]
            layer = s["name"].split(".")[0]
            p = s["parent"]
            while p is not None and self.spans[p]["name"].split(".")[0] != layer:
                p = self.spans[p]["parent"]
            if p is None:
                total[s["name"]] += dur
        return {"total_s": dict(total), "self_s": dict(self_s), "all_s": dict(all_s)}

    def op_counts(self, op) -> dict:
        return {name: v for (o, name), v in self.counts.items() if o == op}


# ---------------------------------------------------------------- event log

_PY_METRICS = {
    "data sent to Python workers": "arrow.bytes_to_python",
    "data returned from Python workers": "arrow.bytes_from_python",
    "time to run Python workers": "arrow.python_run_s",
}


def event_log_file(log_dir: str) -> str | None:
    names = sorted(os.listdir(log_dir)) if os.path.isdir(log_dir) else []
    return os.path.join(log_dir, names[0]) if names else None


def read_event_log(path: str) -> dict:
    jobs, stages, tasks = {}, [], []
    with open(path) as f:
        for line in f:
            e = json.loads(line)
            kind = e["Event"]
            if kind == "SparkListenerJobStart":
                jobs[e["Job ID"]] = [e["Submission Time"], None]
            elif kind == "SparkListenerJobEnd":
                if e["Job ID"] in jobs:
                    jobs[e["Job ID"]][1] = e["Completion Time"]
            elif kind == "SparkListenerStageCompleted":
                stages.append(e["Stage Info"].get("Submission Time", 0))
            elif kind == "SparkListenerTaskEnd":
                info, m = e["Task Info"], e.get("Task Metrics") or {}
                acc = defaultdict(float)
                for a in info.get("Accumulables", []):
                    key = _PY_METRICS.get(a.get("Name"))
                    if key is not None:
                        acc[key] += float(a.get("Update") or 0)
                tasks.append({
                    "launch": info["Launch Time"],
                    "finish": info["Finish Time"],
                    "cpu_ns": m.get("Executor CPU Time", 0),
                    "gc_ms": m.get("JVM GC Time", 0),
                    "shuffle_write": (m.get("Shuffle Write Metrics") or {}).get(
                        "Shuffle Bytes Written", 0),
                    **acc,
                })
    return {"jobs": [tuple(v) for v in jobs.values() if v[1] is not None],
            "stages": stages, "tasks": tasks}


def spark_op_metrics(log: dict, t0_ms: float, t1_ms: float) -> dict:
    """Spark execution and Arrow-crossing readings for one op window
    (epoch ms). Jobs, stages and tasks belong to the op they start in."""
    inside = lambda t: t0_ms <= t <= t1_ms
    jobs = [(a, b) for a, b in log["jobs"] if inside(a)]
    tasks = [t for t in log["tasks"] if inside(t["launch"])]
    wall_s = (t1_ms - t0_ms) / 1e3
    busy_ms, cur_a, cur_b = 0.0, None, None
    for a, b in sorted((max(a, t0_ms), min(b, t1_ms)) for a, b in jobs):
        if cur_b is None or a > cur_b:
            if cur_b is not None:
                busy_ms += cur_b - cur_a
            cur_a, cur_b = a, b
        else:
            cur_b = max(cur_b, b)
    if cur_b is not None:
        busy_ms += cur_b - cur_a
    durs = [(t["finish"] - t["launch"]) / 1e3 for t in tasks]
    return {
        "spark.jobs": len(jobs),
        "spark.stages": sum(1 for s in log["stages"] if inside(s)),
        "spark.tasks": len(tasks),
        "spark.task_p50_s": statistics.median(durs) if durs else 0.0,
        "spark.task_max_s": max(durs) if durs else 0.0,
        "spark.task_s": sum(durs),
        "spark.driver_gap_s": max(0.0, wall_s - busy_ms / 1e3),
        "spark.cpu_s": sum(t["cpu_ns"] for t in tasks) / 1e9,
        "spark.gc_s": sum(t["gc_ms"] for t in tasks) / 1e3,
        "spark.shuffle_write_bytes": sum(t["shuffle_write"] for t in tasks),
        "arrow.bytes_to_python": sum(t.get("arrow.bytes_to_python", 0) for t in tasks),
        "arrow.bytes_from_python": sum(t.get("arrow.bytes_from_python", 0) for t in tasks),
        "arrow.python_run_s": sum(t.get("arrow.python_run_s", 0) for t in tasks) / 1e3,
    }


# ------------------------------------------------------ kernel and encoder

def _timed(fn, *a, **kw):
    t = time.perf_counter()
    out = fn(*a, **kw)
    return out, (time.perf_counter() - t) * 1e3


def profile_kernel(pdf: pd.DataFrame, expected: dict, reps: int = 3) -> dict:
    """Single-threaded step times (ms, median over the sample's series and
    ``reps`` repeats) of the fused kernel's public step functions, and of
    ``encode_series_blob`` on each series' expected tier cells."""
    from pyhydroqc_spark.compression import encode_series_blob
    from pyhydroqc_spark.datagen import CADENCE_S, T0, VAL_HI, VAL_LO
    from pyhydroqc_spark.operators import fused
    from pyhydroqc_spark.operators.arima import fit_arima
    from pyhydroqc_spark.operators.correct import correct_series
    from pyhydroqc_spark.params import DEFAULT_PARAMS as p
    from pyhydroqc_spark.quantize import dequantize, quantize

    t0 = int(T0.timestamp())
    steps = defaultdict(list)
    enc_bytes = enc_cells = 0
    for doc, toks in zip(pdf["doc_id"], pdf["tokens"]):
        tok = np.asarray(toks, dtype=np.int64)
        epochs = t0 + np.arange(len(tok), dtype=np.int64) * CADENCE_S
        ts = pd.DatetimeIndex(pd.to_datetime(epochs, unit="s"))
        x = dequantize(tok, VAL_LO, VAL_HI)
        fused.fused_series_kernel(x, ts, p)  # warm this series' code paths
        for _ in range(reps):
            out, ms = _timed(fused.fused_series_kernel, x, ts, p)
            steps["kernel.ms_per_series"].append(ms)
            t = time.perf_counter()
            anom = fused.range_flags_np(x, p.max_range, p.min_range)
            anom, _ = fused.persistence_np(x, anom, p.persist)
            observed = fused.interpolate_np(x, anom)
            steps["kernel.rules_ms"].append((time.perf_counter() - t) * 1e3)
            (resid, _, _), ms = _timed(fit_arima, observed, *p.pdq)
            steps["kernel.fit_arima_ms"].append(ms)
            t = time.perf_counter()
            low, high = fused.dynamic_threshold_np(resid, p.window_sz, p.alpha, p.threshold_min)
            with np.errstate(invalid="ignore"):
                det = np.where(np.isnan(resid), False, (resid < low) | (resid > high))
            events = fused.widen_events_np(det | anom, p.widen)
            steps["kernel.threshold_ms"].append((time.perf_counter() - t) * 1e3)
            _, ms = _timed(correct_series, observed, events, ts, order=(1, 1, 0))
            steps["kernel.correct_series_ms"].append(ms)
            # dequantize plus the per-tier reduceat, as the cell kernel does
            t = time.perf_counter()
            dequantize(tok, VAL_LO, VAL_HI)
            v = out["det_cor"]
            valid = np.isfinite(v)
            for tier in expected:
                b = (epochs // tier) * tier
                starts = np.flatnonzero(np.r_[True, b[1:] != b[:-1]])
                np.add.reduceat(valid.astype(np.int64), starts)
                np.add.reduceat(np.where(valid, v, 0.0), starts)
                np.minimum.reduceat(np.where(valid, v, np.inf), starts)
                np.maximum.reduceat(np.where(valid, v, -np.inf), starts)
            steps["kernel.reduce_ms"].append((time.perf_counter() - t) * 1e3)
            ms_all = 0.0
            for tier, cells in expected.items():
                c = cells.loc[doc]
                blob, ms = _timed(
                    encode_series_blob,
                    quantize(c["avg_val"].to_numpy(dtype=float), VAL_LO, VAL_HI),
                    c.index.to_numpy(np.int64),
                )
                ms_all += ms
                enc_bytes += len(blob)
                enc_cells += len(c)
            steps["compression.encode_ms_per_series"].append(ms_all)
    out = {k: statistics.median(v) for k, v in steps.items()}
    out["compression.bytes_per_cell"] = enc_bytes / enc_cells if enc_cells else 0.0
    return out
