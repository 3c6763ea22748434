"""End-to-end pipeline: snapshot tables, checkpointing, resume-equivalence,
incremental maintenance, retention.

The read-only assertions (end-to-end shape, lineage/metrics) and the
destructive tests (retention, incremental, resume baseline) share ONE
canonical pipeline run via the module-scoped ``canon`` fixture —
destructive tests clone its tree (manifests embed absolute paths, so the
clone rewrites them) instead of paying a fresh multi-stage run each."""

import os
import shutil

import numpy as np
import pandas as pd
import pytest
from pyspark.sql import functions as F

from pyhydroqc_spark import pipeline as P
from pyhydroqc_spark.checkpoint import CheckpointLog
from pyhydroqc_spark.datagen import gen_token_table
from pyhydroqc_spark.params import SeriesParams
from pyhydroqc_spark.tables import SnapshotTable

PARAMS = SeriesParams(max_range=25.0, min_range=-1.0, persist=30, window_sz=30,
                      alpha=0.0001, threshold_min=0.25, widen=1, pdq=(1, 1, 0))


def _tok_schema():
    from pyspark.sql.types import (
        ArrayType, IntegerType, StringType, StructField, StructType,
    )
    return StructType([
        StructField("doc_id", StringType(), False),
        StructField("tokens", ArrayType(IntegerType(), False), False),
        StructField("n_tok", IntegerType(), False),
        StructField("source", StringType(), False),
    ])


def _input_table(spark, tmp, n_series=6, n_tok=900, seed=42):
    pdf = gen_token_table(n_series=n_series, n_tok=n_tok, seed=seed)
    tbl = SnapshotTable(os.path.join(tmp, "input"))
    for src in sorted(pdf["source"].unique()):
        part = spark.createDataFrame(pdf[pdf.source == src], schema=_tok_schema())
        tbl.append(part, partition=src)
    return tbl, pdf


def _read_tier(spark, root, tier):
    t = SnapshotTable(os.path.join(root, f"rollup_{tier}s"))
    df = t.read(spark)
    return (
        df.orderBy("doc_id", "bucket_start").toPandas() if df is not None else None
    )


def _clone_tree(src: str, dst: str) -> None:
    """Copy a pipeline tree and rewrite the absolute paths embedded in
    snapshot manifests (file-dict keys) and checkpoint lineage strings."""
    shutil.copytree(src, dst)
    for dirpath, _dirs, files in os.walk(dst):
        for name in files:
            if name.endswith((".json", ".jsonl")):
                p = os.path.join(dirpath, name)
                with open(p) as f:
                    text = f.read()
                if src in text:
                    with open(p, "w") as f:
                        f.write(text.replace(src, dst))


@pytest.fixture(scope="module")
def canon(spark, tmp_path_factory):
    """The canonical pipeline run: seed-42 input, model detect off,
    compression on. Five tests assert on (clones of) this one run."""
    tmp = str(tmp_path_factory.mktemp("canon"))
    tbl, pdf = _input_table(spark, tmp)
    out = os.path.join(tmp, "out")
    res = P.run_pipeline(spark, tbl, out, PARAMS, with_model_detect=False,
                         arima_order=(1, 1, 0))
    return {"tmp": tmp, "out": out, "pdf": pdf, "res": res}


def test_pipeline_end_to_end(spark, canon):
    assert canon["res"].points_rolled_up > 0
    for tier in (900, 3600, 86400):
        agg = _read_tier(spark, canon["out"], tier)
        assert agg is not None and len(agg) > 0
        assert (agg["cnt"] > 0).all()
    # every series surfaces in the finest tier
    fin = _read_tier(spark, canon["out"], 900)
    assert set(fin["doc_id"]) == set(canon["pdf"]["doc_id"])
    # compressed blobs round-trip row counts
    comp = SnapshotTable(os.path.join(canon["out"], "compressed")).read(spark).toPandas()
    assert set(comp["doc_id"]) == set(canon["pdf"]["doc_id"])
    assert (comp["n_tok"] == 900).all()


def test_resume_equivalence(spark, canon, tmp_path):
    """Killed after 1 partition → rerun → outputs identical to one-shot
    (the canonical run IS the one-shot: same input seed, same params)."""
    tmp1 = str(tmp_path / "a")
    tbl1, _ = _input_table(spark, tmp1)

    out1 = os.path.join(tmp1, "out")
    with pytest.raises(RuntimeError, match="simulated failure"):
        P.run_pipeline(spark, tbl1, out1, PARAMS, with_model_detect=False,
                       arima_order=(1, 1, 0), fail_after=1)
    ck = CheckpointLog(os.path.join(out1, "_checkpoints"))
    assert len(ck.done_partitions("rollup")) == 1
    res = P.run_pipeline(spark, tbl1, out1, PARAMS, with_model_detect=False,
                         arima_order=(1, 1, 0))
    assert len(res.partitions_skipped) == 1  # the finished one was not redone

    for tier in (900, 3600, 86400):
        a = _read_tier(spark, out1, tier)
        b = _read_tier(spark, canon["out"], tier)
        pd.testing.assert_frame_equal(a.reset_index(drop=True), b.reset_index(drop=True))


def test_incremental_new_partition(spark, canon, tmp_path):
    tmp = str(tmp_path / "inc")
    _clone_tree(canon["tmp"], tmp)
    tbl = SnapshotTable(os.path.join(tmp, "input"))
    out = os.path.join(tmp, "out")
    # second run over the finished tree: nothing new → everything skipped
    res2 = P.run_pipeline(spark, tbl, out, PARAMS, with_model_detect=False, arima_order=(1, 1, 0))
    assert not res2.partitions_processed

    # new data lands in one source → only that partition recomputes
    extra = gen_token_table(n_series=2, n_tok=600, seed=99)
    extra["source"] = "src0"
    extra["doc_id"] = ["src0:new0", "src0:new1"]
    tbl.append(spark.createDataFrame(extra, schema=_tok_schema()), partition="src0")
    res3 = P.run_pipeline(spark, tbl, out, PARAMS, with_model_detect=False, arima_order=(1, 1, 0))
    assert res3.partitions_processed == ["src0"]
    fin = _read_tier(spark, out, 900)
    assert "src0:new0" in set(fin["doc_id"])


def test_lineage_and_metrics_rows(spark, canon):
    ck = CheckpointLog(os.path.join(canon["out"], "_checkpoints")).read(spark).toPandas()
    assert (ck["status"] == "done").all()
    assert (ck["point_count"] > 0).all()
    assert ck["lineage"].map(lambda s: len(s) > 2).all()  # real file lists


def test_retention_sweep(spark, canon, tmp_path):
    out = str(tmp_path / "out")
    _clone_tree(canon["out"], out)
    P.retention_sweep(out, keep_pred=lambda p: p != "src0")
    fin = _read_tier(spark, out, 900)
    assert not any(d.startswith("src0") for d in fin["doc_id"])
    # the tier blob tables are swept with their cell tables
    blobs = SnapshotTable(os.path.join(out, "comp_tier_900s")).read(spark).toPandas()
    assert len(blobs) and not any(d.startswith("src0") for d in blobs["doc_id"])


def test_fused_modes_equal_native(spark, tmp_path):
    """pipeline modes 'fused' and 'fused_cells' produce identical tier
    tables to the native chain (fused_cells runs without the per-point
    blob encoder — compression off for all three for a fair compare)."""
    outs = {}
    for mode in ["native", "fused", "fused_cells"]:
        tmp = str(tmp_path / mode)
        tbl, _ = _input_table(spark, tmp, n_series=4, n_tok=800, seed=5)
        out = os.path.join(tmp, "out")
        P.run_pipeline(spark, tbl, out, PARAMS, arima_order=(1, 1, 0),
                       with_model_detect=True, with_compression=False, mode=mode)
        outs[mode] = {t: _read_tier(spark, out, t) for t in (900, 3600, 86400)}
    for t in (900, 3600, 86400):
        for mode in ["fused", "fused_cells"]:
            pd.testing.assert_frame_equal(
                outs["native"][t].reset_index(drop=True),
                outs[mode][t].reset_index(drop=True),
                check_exact=False, atol=1e-9,
            )


@pytest.mark.parametrize("mode", ["native", "fused_cells"])
def test_tier_blob_compression_roundtrips(spark, tmp_path, mode):
    """north_rule: compression per retention tier — every tier table gets a
    companion blob table whose delta-of-delta timestamps and quantized
    values round-trip to the stored cells, in ALL pipeline modes (the
    per-point blob table exists only for modes with per-point rows)."""
    from pyhydroqc_spark.compression import decode_series_blob
    from pyhydroqc_spark.datagen import VAL_HI, VAL_LO
    from pyhydroqc_spark.quantize import quantize

    tmp = str(tmp_path)
    tbl, _ = _input_table(spark, tmp, n_series=2, n_tok=800, seed=5)
    out = os.path.join(tmp, "out")
    P.run_pipeline(spark, tbl, out, PARAMS, with_compression=True,
                   with_model_detect=False, mode=mode)
    if mode == "fused_cells":
        assert not os.path.exists(os.path.join(out, "compressed"))
    else:
        assert os.path.exists(os.path.join(out, "compressed"))
    for tier in (900, 3600, 86400):
        cells = _read_tier(spark, out, tier)
        blobs = (
            SnapshotTable(os.path.join(out, f"comp_tier_{tier}s"))
            .read(spark).toPandas().set_index("doc_id")
        )
        for doc, grp in cells.groupby("doc_id"):
            toks, ts = decode_series_blob(bytes(blobs.loc[doc, "blob"]))
            grp = grp.sort_values("bucket_start")
            exp_ts = (grp["bucket_start"].astype("int64") // 10**9).to_numpy()
            np.testing.assert_array_equal(ts, exp_ts)
            exp_toks = quantize(grp["avg_val"].to_numpy(dtype=float), VAL_LO, VAL_HI)
            np.testing.assert_array_equal(toks, exp_toks)


def test_fused_cells_zero_shuffle_equals_repartitioned(spark, tmp_path):
    """mode='fused_cells' with repartition_input=False (the zero-shuffle
    plan: scan -> kernel, no exchange) produces identical tier tables to
    the default repartitioned run."""
    outs = {}
    for flag in (True, False):
        tmp = str(tmp_path / f"rep_{flag}")
        tbl, _ = _input_table(spark, tmp, n_series=4, n_tok=800, seed=5)
        out = os.path.join(tmp, "out")
        P.run_pipeline(spark, tbl, out, PARAMS, arima_order=(1, 1, 0),
                       with_model_detect=True, with_compression=False,
                       mode="fused_cells", repartition_input=flag)
        outs[flag] = {t: _read_tier(spark, out, t) for t in (900, 3600, 86400)}
    for t in (900, 3600, 86400):
        pd.testing.assert_frame_equal(
            outs[True][t].reset_index(drop=True),
            outs[False][t].reset_index(drop=True),
            check_exact=False, atol=1e-9,
        )
