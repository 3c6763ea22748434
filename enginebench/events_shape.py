"""Print the shape of the benchmark's seeded events table next to a
reference events table, so the stand-in can be checked against the data it
replaces (the sf0.01 test data's ``events.parquet``, see TESTDATA.md).

    python3 enginebench/events_shape.py --seed 1 path/to/sf0.01/events.parquet
"""

from __future__ import annotations

import argparse
import os
import sys

import numpy as np
import pyarrow as pa
import pyarrow.parquet as pq

sys.path.insert(0, os.path.dirname(os.path.abspath(__file__)))

from workloads import QcQueries, gen_events  # noqa: E402


def shape(table: pa.Table) -> dict:
    df = table.to_pandas()
    per_user = df.groupby("user_id").size()
    ts = np.sort(df["ts"].to_numpy().astype("datetime64[us]").astype(np.int64))
    gaps = np.diff(ts) / 1e6
    q = df["value"].quantile([0.0, 0.25, 0.5, 0.75, 0.99, 1.0]).tolist()
    return {
        "columns": ", ".join(f"{f.name}:{f.type}" for f in table.schema),
        "rows": len(df),
        "users": df["user_id"].nunique(),
        "rows per user min|median|max": f"{per_user.min()}|{per_user.median():g}|{per_user.max()}",
        "first ts": str(df["ts"].min()),
        "last ts": str(df["ts"].max()),
        "span days": f"{(ts[-1] - ts[0]) / 86400e6:.2f}",
        "gap s median|mean": f"{np.median(gaps):.1f}|{gaps.mean():.1f}",
        "event types": str(dict(sorted(df["event_type"].value_counts().items()))),
        "value mean": f"{df['value'].mean():.2f}",
        "value q0|25|50|75|99|100": "|".join(f"{v:.2f}" for v in q),
    }


def main() -> int:
    p = argparse.ArgumentParser(description=__doc__.split("\n\n")[0])
    p.add_argument("--seed", type=int, default=1)
    p.add_argument("reference", help="events.parquet to compare with")
    args = p.parse_args()
    gen = shape(gen_events(args.seed, QcQueries.ROWS))
    ref = shape(pq.read_table(args.reference))
    width = max(map(len, gen))
    for k in gen:
        print(f"{k:<{width}}  generated: {gen[k]}")
        print(f"{'':<{width}}  reference: {ref[k]}")
    return 0


if __name__ == "__main__":
    sys.exit(main())
