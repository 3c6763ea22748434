"""The benchmark's workloads: seeded inputs, one timed operation, and the
check of that operation's output.

A workload class takes (spark, work dir, seed, plant_wrong). The runner calls
``make_inputs()`` and ``prepare()`` once each (``prepare`` runs the set-up
checks and returns a list of errors), then runs operations i = 0, 1, ... in
a fixed order. ``op(i)`` runs the i-th operation and returns its result;
the runner times that call and nothing else. ``check(i, result)`` returns errors,
``stored_bytes(i)`` the op's bytes on disk, and ``cleanup(i)`` readies the
next op; all three run outside the clock. ``key(i)`` groups ops whose
medians are summed into one pass, and ``profile()`` gives the traced run's
kernel and encoder readings. WARMUP_OPS, MIN_OPS and SETUP_CHECKS set the
warm-up count, the fewest measured ops, and the set-up checks counted as
attempted ops; the measured loop ends only after a whole pass of
OPS_PER_PASS ops.
"""

from __future__ import annotations

import os
import shutil
import sys

import numpy as np
import pandas as pd
import pyarrow as pa
import pyarrow.parquet as pq

TIERS = (900, 3600, 86400)
KERNEL_SAMPLE = 4  # series profiled single-threaded in the traced run


def dir_bytes(path: str) -> int:
    total = 0
    for d, _, files in os.walk(path):
        total += sum(os.path.getsize(os.path.join(d, f)) for f in files)
    return total


# ------------------------------------------------------------------ backfill

def replica_cells(pdf: pd.DataFrame, tiers=TIERS) -> dict:
    """Expected tier cells, computed in this process: the fused kernel on each
    generated series, then pandas count/sum/min/max per tier bucket.
    Returns {tier: frame indexed by (doc_id, bucket_s)}."""
    from pyhydroqc_spark.datagen import CADENCE_S, T0, VAL_HI, VAL_LO
    from pyhydroqc_spark.operators.fused import fused_series_kernel
    from pyhydroqc_spark.params import DEFAULT_PARAMS
    from pyhydroqc_spark.quantize import dequantize

    t0 = int(T0.timestamp())
    parts: dict = {t: [] for t in tiers}
    for doc, toks in zip(pdf["doc_id"], pdf["tokens"]):
        x = dequantize(np.asarray(toks), VAL_LO, VAL_HI)
        epochs = t0 + np.arange(len(x), dtype=np.int64) * CADENCE_S
        ts = pd.DatetimeIndex(pd.to_datetime(epochs, unit="s"))
        v = pd.Series(fused_series_kernel(x, ts, DEFAULT_PARAMS)["det_cor"])
        for t in tiers:
            g = v.groupby((epochs // t) * t).agg(["count", "sum", "min", "max"])
            g["sum"] = g["sum"].where(g["count"] > 0)
            parts[t].append(pd.DataFrame({
                "doc_id": doc,
                "bucket_s": g.index.to_numpy(np.int64),
                "cnt": g["count"].to_numpy(np.int64),
                "sum_val": g["sum"].to_numpy(float),
                "avg_val": (g["sum"] / g["count"]).to_numpy(float),
                "min_val": g["min"].to_numpy(float),
                "max_val": g["max"].to_numpy(float),
            }))
    return {
        t: pd.concat(p, ignore_index=True).set_index(["doc_id", "bucket_s"]).sort_index()
        for t, p in parts.items()
    }


def read_tier(root: str) -> pd.DataFrame:
    """A committed tier table's cells, read from its current snapshot."""
    from pyhydroqc_spark.tables import SnapshotTable

    df = pq.read_table(SnapshotTable(root).files()).to_pandas()
    df["bucket_s"] = df.pop("bucket_start").astype("datetime64[s]").astype(np.int64)
    return df.set_index(["doc_id", "bucket_s"]).sort_index()


def compare_cells(got: pd.DataFrame, exp: pd.DataFrame, what: str) -> list[str]:
    if len(got) != len(exp) or not got.index.equals(exp.index):
        return [f"{what}: {len(got)} cells committed, {len(exp)} expected, or keys differ"]
    errs = []
    if not np.array_equal(got["cnt"].to_numpy(np.int64), exp["cnt"].to_numpy(np.int64)):
        errs.append(f"{what}: cnt differs")
    for c in ("sum_val", "avg_val", "min_val", "max_val"):
        if not np.allclose(got[c].to_numpy(float), exp[c].to_numpy(float),
                           rtol=1e-9, atol=1e-9, equal_nan=True):
            errs.append(f"{what}: {c} differs")
    return errs


def write_tokens(pdf: pd.DataFrame, path: str) -> str:
    """Write a token frame as one parquet file in the token-table schema."""
    os.makedirs(os.path.dirname(path))
    schema = pa.schema([
        pa.field("doc_id", pa.string(), False),
        pa.field("tokens", pa.list_(pa.int32()), False),
        pa.field("n_tok", pa.int32(), False),
    ])
    pq.write_table(pa.Table.from_pandas(pdf[["doc_id", "tokens", "n_tok"]],
                                        schema=schema, preserve_index=False), path)
    return path


def stage_token_table(pdf: pd.DataFrame, root: str):
    """Commit the token frame as the single source partition of a fresh
    input SnapshotTable."""
    from pyhydroqc_spark.tables import SnapshotTable

    table = SnapshotTable(root)
    path = write_tokens(pdf, os.path.join(root, "data", "part-00000.parquet"))
    table._commit({path: pdf["source"].iloc[0]})
    return table


def check_blobs(root: str, t: int, got: pd.DataFrame, seen: dict) -> list[str]:
    """Every series' blob in the ``comp_tier_*`` table at ``root`` must
    decode to its committed cells in ``got``: the bucket starts and the
    quantized avg_val. Blobs of series not in ``got`` are not checked. A
    blob byte-identical to one already decoded for the same cell tokens
    (``seen``, keyed by tier and series) is not decoded again."""
    from pyhydroqc_spark.compression import decode_series_blob
    from pyhydroqc_spark.datagen import VAL_HI, VAL_LO
    from pyhydroqc_spark.quantize import quantize
    from pyhydroqc_spark.tables import SnapshotTable

    table = pq.read_table(SnapshotTable(root).files())
    blobs = dict(zip(table.column("doc_id").to_pylist(), table.column("blob").to_pylist()))
    toks = quantize(got["avg_val"].to_numpy(float), VAL_LO, VAL_HI)
    docs = got.index.get_level_values(0).to_numpy()
    buckets = got.index.get_level_values(1).to_numpy()
    starts = np.flatnonzero(np.r_[True, docs[1:] != docs[:-1]])
    errs = []
    for a, b in zip(starts, np.r_[starts[1:], len(docs)]):
        doc = docs[a]
        if doc not in blobs:
            errs.append(f"{t}s: no blob for {doc}")
            continue
        prev = seen.get((t, doc))
        if prev is not None and prev[0] == blobs[doc] and np.array_equal(prev[1], toks[a:b]):
            continue
        dt, dts = decode_series_blob(blobs[doc])
        if np.array_equal(dts, buckets[a:b]) and np.array_equal(dt, toks[a:b]):
            seen[(t, doc)] = (blobs[doc], toks[a:b])
        else:
            errs.append(f"{t}s blob of {doc} does not decode to its cells")
    return errs


class Backfill:
    """One ``run_pipeline(mode="fused_cells")`` over a one-partition token
    table of N_SERIES x N_TOK points into an empty output root."""

    name = "backfill"
    N_SERIES, N_TOK = 16, 16_000
    WARMUP_OPS = 1  # the native check has warmed the JVM; one full op ends the ramp
    MIN_OPS = 3
    OPS_PER_PASS = 1
    SETUP_CHECKS = 1  # the native-chain cross-check
    NATIVE_SERIES, NATIVE_TOK = 2, 1_600

    def __init__(self, spark, work: str, seed: int, plant_wrong: bool):
        self.spark, self.work, self.seed = spark, work, seed
        self.plant_wrong = plant_wrong
        self.points_per_op = self.N_SERIES * self.N_TOK
        self.blobs_ok: dict = {}

    def make_inputs(self) -> None:
        from pyhydroqc_spark.datagen import gen_token_table

        self.pdf = gen_token_table(n_series=self.N_SERIES, n_tok=self.N_TOK,
                                   seed=self.seed, skew=False, n_sources=1)
        self.input = stage_token_table(self.pdf, os.path.join(self.work, "input"))

    def prepare(self) -> list[str]:
        """Replica cells and the native-versus-kernel check; returns errors."""
        self.expected = replica_cells(self.pdf)
        if self.plant_wrong:
            cnt = self.expected[TIERS[0]]["cnt"].to_numpy(copy=True)
            cnt[0] += 1
            self.expected[TIERS[0]]["cnt"] = cnt
        return self._native_check()

    def _native_check(self) -> list[str]:
        from pyhydroqc_spark import pipeline
        from pyhydroqc_spark.datagen import gen_token_table

        pdf = gen_token_table(n_series=self.NATIVE_SERIES, n_tok=self.NATIVE_TOK,
                              seed=self.seed, skew=False, n_sources=1)
        table = stage_token_table(pdf, os.path.join(self.work, "native_in"))
        out = os.path.join(self.work, "native_out")
        pipeline.run_pipeline(self.spark, table, out, mode="native",
                              with_compression=False)
        exp = replica_cells(pdf)
        errs = []
        for t in TIERS:
            errs += compare_cells(read_tier(os.path.join(out, f"rollup_{t}s")),
                                  exp[t], f"native {t}s")
        shutil.rmtree(out)
        return errs

    def key(self, i: int) -> str:
        return "op"

    def out_root(self, i: int) -> str:
        return os.path.join(self.work, "out", f"op{i:04d}")

    def op(self, i: int, tracer=None):
        from pyhydroqc_spark import pipeline

        return pipeline.run_pipeline(self.spark, self.input, self.out_root(i),
                                     mode="fused_cells")

    def check(self, i: int, res) -> list[str]:
        out = self.out_root(i)
        n_cells = sum(len(e) for e in self.expected.values())
        errs = []
        if res.points_rolled_up != n_cells:
            errs.append(f"pipeline reported {res.points_rolled_up} cells, {n_cells} expected")
        for t in TIERS:
            got = read_tier(os.path.join(out, f"rollup_{t}s"))
            errs += compare_cells(got, self.expected[t], f"{t}s")
            errs += check_blobs(os.path.join(out, f"comp_tier_{t}s"), t, got, self.blobs_ok)
        return errs

    def stored_bytes(self, i: int) -> int:
        return dir_bytes(self.out_root(i))

    def profile(self) -> dict:
        from spans import profile_kernel

        return profile_kernel(self.pdf.head(KERNEL_SAMPLE), self.expected)

    def cleanup(self, i: int) -> None:
        shutil.rmtree(self.out_root(i), ignore_errors=True)


# ---------------------------------------------------------------- qc_queries

QC_SUITE = (
    "range_counts", "persistence_counts", "interpolated", "dynamic_threshold",
    "anomaly_events", "rollup_tiers", "retention_counts",
)

EVENT_TYPES = ("click", "view", "purchase", "signup", "error")


def gen_events(seed: int, rows: int = 10_000, users: int = 150, days: int = 30) -> pa.Table:
    """A seeded stand-in for the sf0.01 test data's ``events`` table: arrivals
    uniform over ``days`` from 2024-01-01 (a Poisson stream given its count),
    uniform users and event types, exponential values (mean 50, two
    decimals, in [0.01, 499.99])."""
    rng = np.random.default_rng(seed)
    span_us = days * 86_400 * 1_000_000
    offs = np.sort(rng.integers(0, span_us, rows))
    ts = np.datetime64("2024-01-01T00:00:00", "us") + offs.astype("timedelta64[us]")
    value = np.clip(np.round(rng.exponential(50.0, rows), 2), 0.01, 499.99)
    return pa.table({
        "event_id": pa.array(np.arange(rows, dtype=np.int64)),
        "ts": pa.array(ts, pa.timestamp("us")),
        "user_id": pa.array(rng.integers(0, users, rows).astype(np.int64)),
        "event_type": pa.array(np.asarray(EVENT_TYPES)[rng.integers(0, len(EVENT_TYPES), rows)]),
        "value": pa.array(value),
        "props": pa.array([f'{{"k": {k}}}' for k in rng.integers(0, 100, rows)]),
    })


def _load_tool(name: str):
    """A module of the repo's tools/ directory, loaded by path."""
    import importlib.util

    root = os.path.dirname(os.path.dirname(os.path.abspath(__file__)))
    spec = importlib.util.spec_from_file_location(
        f"_tools_{name}", os.path.join(root, "tools", f"{name}.py"))
    mod = importlib.util.module_from_spec(spec)
    saved = list(sys.path)
    spec.loader.exec_module(mod)
    sys.path[:] = saved  # the tool prepends its own checkout path
    return mod


class QcQueries:
    """One operation is one call of a suite query on a seeded events table;
    the suite runs in a fixed order, so a pass is len(QC_SUITE) operations."""

    name = "qc_queries"
    ROWS = 10_000
    WARMUP_OPS = len(QC_SUITE)
    MIN_OPS = 2 * len(QC_SUITE)  # a per-query median of at least two calls
    OPS_PER_PASS = len(QC_SUITE)
    SETUP_CHECKS = 0

    def __init__(self, spark, work: str, seed: int, plant_wrong: bool):
        self.spark, self.work, self.seed = spark, work, seed
        self.plant_wrong = plant_wrong
        self.points_per_op = self.ROWS * len(QC_SUITE)  # per pass
        self.tmp = os.environ["TMPDIR"]

    def make_inputs(self) -> None:
        self.sf_dir = os.path.join(self.work, "sf")
        os.makedirs(self.sf_dir)
        pq.write_table(gen_events(self.seed, self.ROWS),
                       os.path.join(self.sf_dir, "events.parquet"))

    def prepare(self) -> list[str]:
        """Oracle results from ``oracle_sql()`` on DuckDB, normalised once."""
        import duckdb

        import __spark_entry__ as entry

        self.normalize = _load_tool("check_contract").normalize
        self.queries = entry.queries()
        oracles = entry.oracle_sql()
        con = duckdb.connect()
        events = os.path.join(self.sf_dir, "events.parquet")
        con.execute(f"CREATE VIEW events AS SELECT * FROM read_parquet('{events}')")
        self.expected = {q: self.normalize(con.execute(oracles[q]).df()) for q in QC_SUITE}
        con.close()
        if self.plant_wrong:
            exp = self.expected[QC_SUITE[0]]
            col = next(c for c in exp.columns if pd.api.types.is_numeric_dtype(exp[c]))
            exp.loc[0, col] = exp.loc[0, col] + 1
        return []

    def key(self, i: int) -> str:
        return QC_SUITE[i % len(QC_SUITE)]

    def op(self, i: int, tracer=None):
        q = self.key(i)
        if tracer is None:
            return self.queries[q](self.spark, self.sf_dir).toPandas()
        span = tracer.begin(f"query.{q}")
        try:
            df = self.queries[q](self.spark, self.sf_dir)
            plan = tracer.begin(f"query.{q}.plan")
            df._jdf.queryExecution().executedPlan()
            tracer.end(plan)
            return df.toPandas()
        finally:
            tracer.end(span)

    def check(self, i: int, got: pd.DataFrame) -> list[str]:
        q = self.key(i)
        exp = self.expected[q]
        if sorted(got.columns) != sorted(exp.columns) or len(got) != len(exp):
            return [f"{q}: shape {len(got)}x{sorted(got.columns)} vs {len(exp)}x{sorted(exp.columns)}"]
        try:
            pd.testing.assert_frame_equal(self.normalize(got), exp, check_dtype=False,
                                          check_exact=False, atol=1e-9)
        except AssertionError as e:
            return [f"{q}: values differ: {str(e).splitlines()[0]}"]
        return []

    def stored_bytes(self, i: int) -> int:
        """Bytes of the stores the query left under TMPDIR (its mkdtemp)."""
        return dir_bytes(self.tmp)

    def profile(self) -> dict:
        return {}  # no fused kernel or encoder runs on this workload

    def cleanup(self, i: int) -> None:
        for name in os.listdir(self.tmp):
            p = os.path.join(self.tmp, name)
            shutil.rmtree(p) if os.path.isdir(p) else os.remove(p)


WORKLOADS = {w.name: w for w in (Backfill, QcQueries)}
