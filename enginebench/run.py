"""Engine benchmark: one workload per run, one client, closed loop.

    python3 enginebench/run.py --workload backfill --seed 1 --seconds 15 --trace 0

Set-up starts a local[nproc] session from ``get_spark``, generates the
workload's inputs from ``--seed``, and runs a fixed count of full-size
warm-up operations. The run then times operations one after another until
``--seconds`` have passed, checks every operation's output, and prints as
its last stdout line one JSON object: correct, attempted, failed, metrics.
``--trace 0`` prints the end-to-end metrics; ``--trace 1`` installs span
wrappers and Spark's event log and prints the per-layer metrics instead.
The exit code is 0 only when every check passed. See README.md here.
"""

from __future__ import annotations

import argparse
import gc
import json
import os
import shutil
import statistics
import subprocess
import sys
import time
import traceback

HERE = os.path.dirname(os.path.abspath(__file__))
ROOT = os.path.dirname(HERE)
sys.path.insert(0, HERE)

import sysinfo  # noqa: E402
from workloads import QC_SUITE, WORKLOADS  # noqa: E402

END_TO_END = {
    "setup_s": "s",
    "points_per_s": "points/s",
    "op_cpu_s": "CPU-s",
    "stored_bytes_per_point": "B/point",
}

LAYER_UNITS = {
    "session.start_s": "s", "setup.input_s": "s", "setup.warmup_s": "s",
    "pipeline.run_s": "s", "pipeline.self_s": "s",
    "pipeline.partitions_processed": "count",
    "tables.cell_write_s": "s", "tables.blob_write_s": "s",
    "tables.metadata_s": "s", "tables.retention_s": "s", "tables.commits": "count",
    "tables.files_written": "count", "tables.bytes_written": "B",
    "checkpoint.s": "s",
    "spark.jobs": "count", "spark.stages": "count", "spark.tasks": "count",
    "spark.task_p50_s": "s", "spark.task_max_s": "s", "spark.core_util": "ratio",
    "spark.driver_gap_s": "s", "spark.cpu_s": "CPU-s", "spark.gc_s": "s",
    "spark.shuffle_write_bytes": "B",
    "arrow.bytes_to_python": "B", "arrow.bytes_from_python": "B", "arrow.python_run_s": "s",
    "kernel.ms_per_series": "ms", "kernel.rules_ms": "ms", "kernel.fit_arima_ms": "ms",
    "kernel.threshold_ms": "ms", "kernel.correct_series_ms": "ms", "kernel.reduce_ms": "ms",
    "compression.encode_ms_per_series": "ms", "compression.bytes_per_cell": "B/cell",
    "jvm.peak_rss_mb": "MB", "driver.peak_rss_mb": "MB", "pyworkers.peak_rss_mb": "MB",
    "host.steal_frac": "ratio",
}
# span name -> per-layer metric, summed over top-of-layer spans in one op
SPAN_METRICS = {
    "pipeline.run": "pipeline.run_s",
    "tables.cell_write": "tables.cell_write_s",
    "tables.blob_write": "tables.blob_write_s",
    "tables.metadata": "tables.metadata_s",
    "tables.retention": "tables.retention_s",
    "checkpoint": "checkpoint.s",
}


def log(msg: str) -> None:
    print(f"[{sysinfo.process_age_s():7.2f}s] {msg}", file=sys.stderr, flush=True)


def per_layer_units() -> dict:
    units = dict(LAYER_UNITS)
    for q in QC_SUITE:
        units[f"query.{q}.wall_s"] = "s"
        units[f"query.{q}.plan_s"] = "s"
    for k, u in END_TO_END.items():
        units[f"traced.{k}"] = u
    return units


def per_pass(records: list, value) -> float:
    """Sum over operation keys of the median per key: the op median on
    backfill, the sum of per-query medians (one suite pass) on qc_queries."""
    by_key: dict = {}
    for r in records:
        by_key.setdefault(r["key"], []).append(value(r))
    return sum(statistics.median(v) for v in by_key.values())


def start_spark(work: str, nproc: int, event_log: str | None):
    from pyhydroqc_spark.session import get_spark

    jtmp = os.path.join(work, "jtmp")
    os.makedirs(jtmp)
    conf = {
        "spark.driver.memory": "4g",
        "spark.ui.showConsoleProgress": "false",
        "spark.sql.warehouse.dir": os.path.join(work, "warehouse"),
        "spark.driver.extraJavaOptions": f"-Djava.io.tmpdir={jtmp}",
    }
    if event_log:
        os.makedirs(event_log)
        conf.update({
            "spark.eventLog.enabled": "true",
            "spark.eventLog.dir": event_log,
            "spark.eventLog.compress": "false",
            "spark.eventLog.rolling.enabled": "false",
        })
    spark = get_spark("enginebench", cores=nproc, extra_conf=conf)
    spark.sparkContext.setLogLevel("ERROR")
    return spark


def stop_spark(spark) -> dict:
    """Stop the session, end the JVM, and wait for it and its Python
    workers to exit. Returns their peak RSS, read just before the stop."""
    from pyspark import SparkContext

    gateway = SparkContext._gateway
    proc = gateway.proc
    kids = sysinfo.descendants(proc.pid)
    mem = {
        "jvm.peak_rss_mb": sysinfo.peak_rss_mb(proc.pid),
        "pyworkers.peak_rss_mb": sum(sysinfo.peak_rss_mb(p) for p in kids),
    }
    spark.stop()
    gateway.shutdown()
    proc.stdin.close()  # the gateway JVM exits on EOF
    try:
        proc.wait(timeout=60)
    except subprocess.TimeoutExpired:
        proc.kill()
        proc.wait()
    for pid in sysinfo.wait_gone(kids, 30):
        os.kill(pid, 9)
    sysinfo.wait_gone(kids, 10)
    SparkContext._gateway = SparkContext._jvm = None
    return mem


class Run:
    def __init__(self, args, work: str, nproc: int):
        self.args, self.work, self.nproc = args, work, nproc
        self.records: list[dict] = []
        self.setup_errors: list[str] = []
        self.tracer = None

    def op(self, w, i: int, measured: bool) -> None:
        key = w.key(i)
        if self.tracer:
            self.tracer.op = i
        errs = []
        c0, e0, t0 = sysinfo.cpu_times()[0], time.time(), time.perf_counter()
        try:
            res = w.op(i, self.tracer)
        except Exception:
            traceback.print_exc()
            res, errs = None, [f"{key}: operation raised"]
        wall, e1, c1 = time.perf_counter() - t0, time.time(), sysinfo.cpu_times()[0]
        if self.tracer:
            self.tracer.op = None
        nbytes = 0
        parts = len(getattr(res, "partitions_processed", ()))
        if not errs:
            try:
                errs = w.check(i, res)
                nbytes = w.stored_bytes(i)
            except Exception:
                traceback.print_exc()
                errs = [f"{key}: output check raised"]
        w.cleanup(i)
        # drop this op's frames and shuffle files before the next op
        del res
        gc.collect()
        self.spark._jvm.System.gc()
        for e in errs:
            print(f"check failed, op {i}: {e}", file=sys.stderr)
        log(f"op {i} {key} {wall:.3f}s{' (warm-up)' if not measured else ''}")
        self.records.append({
            "i": i, "key": key, "measured": measured, "wall": wall, "cpu": c1 - c0,
            "bytes": nbytes, "t0_ms": e0 * 1e3, "t1_ms": e1 * 1e3, "errors": errs,
            "parts": parts,
        })

    def run(self) -> dict:
        a = self.args
        cpu0 = sysinfo.cpu_times()
        event_log = os.path.join(self.work, "eventlog") if a.trace else None
        self.spark = start_spark(self.work, self.nproc, event_log)
        t_session = sysinfo.process_age_s()
        versions = sysinfo.versions(self.spark)
        try:
            w = WORKLOADS[a.workload](self.spark, self.work, a.seed, a.plant_wrong)
            t = time.perf_counter()
            w.make_inputs()
            input_s = time.perf_counter() - t
            log("inputs staged")
            self.setup_errors = w.prepare()
            log("set-up checks done")
            if a.trace:
                from spans import Tracer

                self.tracer = Tracer()
                self.tracer.install()
            t_warm = sysinfo.process_age_s()
            for i in range(w.WARMUP_OPS):
                self.op(w, i, measured=False)
            setup_s = sysinfo.process_age_s()
            i, t0 = w.WARMUP_OPS, time.perf_counter()
            while True:
                self.op(w, i, measured=True)
                i += 1
                n = i - w.WARMUP_OPS
                if (time.perf_counter() - t0 >= a.seconds and n >= w.MIN_OPS
                        and n % w.OPS_PER_PASS == 0):
                    break
            profile = {}
            if self.tracer:
                self.tracer.uninstall()
                profile = w.profile()
        finally:
            mem = stop_spark(self.spark)
        cpu1 = sysinfo.cpu_times()
        steal = (cpu1[1] - cpu0[1]) / max(cpu1[2] - cpu0[2], 1e-9)

        measured = [r for r in self.records if r["measured"]]
        op_s = per_pass(measured, lambda r: r["wall"])
        e2e = {
            "setup_s": setup_s,
            "points_per_s": w.points_per_op / op_s,
            "op_cpu_s": per_pass(measured, lambda r: r["cpu"]),
            "stored_bytes_per_point": per_pass(measured, lambda r: r["bytes"]) / w.points_per_op,
        }
        failed = sum(1 for r in self.records if r["errors"]) + (1 if self.setup_errors else 0)
        for e in self.setup_errors:
            print(f"check failed, set-up: {e}", file=sys.stderr)
        attempted = len(self.records) + w.SETUP_CHECKS
        ctx = {"nproc": self.nproc, "cpu_model": sysinfo.cpu_model(), "steal_frac": steal,
               **versions, "seed": a.seed, "git_commit": sysinfo.git_commit(ROOT)}
        detail = {"context": ctx, "end_to_end": e2e,
                  "ops": [{k: r[k] for k in ("i", "key", "measured", "wall", "cpu", "bytes")}
                          for r in self.records]}
        if a.trace:
            layers = self.layer_metrics(measured, profile, mem, steal, event_log)
            layers.update({
                "session.start_s": t_session,
                "setup.input_s": input_s,
                "setup.warmup_s": setup_s - t_warm,
            })
            layers.update({f"traced.{k}": v for k, v in e2e.items()})
            units = per_layer_units()
            metrics = {k: {"value": float(layers.get(k, 0.0)), "unit": u}
                       for k, u in units.items()}
            detail["self_s"] = self.self_times(measured)
        else:
            metrics = {k: {"value": float(e2e[k]), "unit": u} for k, u in END_TO_END.items()}
        detail["metrics"] = metrics
        print(json.dumps({"context": ctx}), file=sys.stderr)
        out_dir = os.path.join(ROOT, ".enginebench", "results")
        os.makedirs(out_dir, exist_ok=True)
        with open(os.path.join(out_dir, f"{a.workload}-seed{a.seed}-trace{a.trace}.json"), "w") as f:
            json.dump(detail, f, indent=1)
        return {"correct": failed == 0, "attempted": attempted, "failed": failed,
                "metrics": metrics}

    def layer_metrics(self, measured, profile, mem, steal, event_log) -> dict:
        from spans import event_log_file, read_event_log, spark_op_metrics

        log = read_event_log(event_log_file(event_log))
        per_op = {}
        for r in measured:
            layers = self.tracer.op_layers(r["i"])
            m = {name: layers["total_s"].get(span, 0.0) for span, name in SPAN_METRICS.items()}
            m["pipeline.self_s"] = layers["self_s"].get("pipeline.run", 0.0)
            m.update(self.tracer.op_counts(r["i"]))
            m.update(spark_op_metrics(log, r["t0_ms"], r["t1_ms"]))
            if r["key"] != "op":
                m[f"query.{r['key']}.wall_s"] = r["wall"]
                m[f"query.{r['key']}.plan_s"] = layers["all_s"].get(f"query.{r['key']}.plan", 0.0)
            m["pipeline.partitions_processed"] = r["parts"]
            per_op[r["i"]] = m
        names = set().union(*per_op.values())
        out = {n: per_pass(measured, lambda r: per_op[r["i"]].get(n, 0.0)) for n in names}
        # percentiles and ratios do not add up over a pass's queries
        for n in ("spark.task_p50_s", "spark.task_max_s"):
            out[n] = statistics.median(per_op[r["i"]][n] for r in measured)
        op_s = per_pass(measured, lambda r: r["wall"])
        out["spark.core_util"] = out.pop("spark.task_s") / (op_s * self.nproc)
        out.update(profile)
        out.update(mem)
        out["driver.peak_rss_mb"] = sysinfo.driver_peak_rss_mb()
        out["host.steal_frac"] = steal
        return out

    def self_times(self, measured) -> dict:
        return {str(r["i"]): self.tracer.op_layers(r["i"])["self_s"] for r in measured}


def main(argv=None) -> int:
    p = argparse.ArgumentParser(description=__doc__.split("\n")[0])
    p.add_argument("--workload", required=True, choices=sorted(WORKLOADS))
    p.add_argument("--seed", type=int, required=True)
    p.add_argument("--seconds", type=float, required=True)
    p.add_argument("--trace", type=int, choices=[0, 1], default=0)
    p.add_argument("--plant-wrong", action="store_true",
                   help="plant one wrong expected value; the run must report a failed op")
    args = p.parse_args(argv)

    if not (os.path.isdir(os.path.join(ROOT, "pyhydroqc_spark"))
            and os.path.isfile(os.path.join(ROOT, "__spark_entry__.py"))):
        print(f"enginebench: no engine sources next to {HERE}", file=sys.stderr)
        return 2
    sys.path.insert(0, ROOT)
    work = os.path.join(ROOT, ".enginebench", "work", args.workload)
    shutil.rmtree(work, ignore_errors=True)
    # every temp file of this run stays inside the checkout
    os.makedirs(os.path.join(work, "tmp"))
    os.environ["TMPDIR"] = os.path.join(work, "tmp")
    os.environ["SPARK_LOCAL_DIRS"] = os.path.join(work, "local")
    nproc = len(os.sched_getaffinity(0))
    try:
        result = Run(args, work, nproc).run()
    finally:
        shutil.rmtree(work, ignore_errors=True)
    print(json.dumps(result))
    return 0 if result["correct"] else 1


if __name__ == "__main__":
    sys.exit(main())
