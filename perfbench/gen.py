"""Seeded benchmark inputs.

Every input is a pure function of the workload seed: the transcript table
comes from ``piperider_spark.datagen`` (Zipf conversation lengths), cut to
an exact turn count so the work per run does not drift with the seed; the
clone set and the lineitem-shaped table come from ``numpy`` generators
seeded from the same value.
"""

from __future__ import annotations

import os

import numpy as np
import pandas as pd
import pyarrow as pa
import pyarrow.parquet as pq

from piperider_spark.datagen import generate_transcripts

TRANSCRIPT_SCHEMA = pa.schema(
    [
        pa.field("conv_id", pa.string()),
        pa.field("turn_idx", pa.int32()),
        pa.field("role", pa.string()),
        pa.field("text", pa.string()),
        pa.field("tool", pa.string()),
        pa.field("ts", pa.timestamp("us")),
    ]
)

# clone ids sort after their originals, so the pipeline's canonical
# (lexically-first) conversation is always the original
CLONE_SUFFIX = "~clone"


def transcripts(n_turns: int, seed: int, clone_frac: float = 0.0) -> tuple[pd.DataFrame, list[str]]:
    """Exactly ``n_turns`` generated turns plus, when ``clone_frac`` > 0,
    copies of whole conversations under fresh conv_ids, drawn in a seeded
    order until they hold ``clone_frac`` of the turns. Conversation lengths
    are Zipf-distributed, so a fixed share of conversations would clone a
    seed-dependent share of the turns; a share of turns keeps the dedup
    work the same from seed to seed. Returns the frame and the sorted list
    of clone conv_ids."""
    pdf = generate_transcripts(n_turns, seed).iloc[:n_turns].reset_index(drop=True)
    if clone_frac <= 0:
        return pdf, []
    sizes = pdf.groupby("conv_id", sort=True).size()
    rng = np.random.default_rng([seed, 1])
    budget = int(round(clone_frac * n_turns))
    picked = []
    for conv in rng.permutation(sizes.index.to_numpy()):
        if sizes[conv] <= budget:
            picked.append(conv)
            budget -= int(sizes[conv])
    copies = pdf[pdf["conv_id"].isin(picked)].copy()
    copies["conv_id"] = copies["conv_id"] + CLONE_SUFFIX
    out = pd.concat([pdf, copies], ignore_index=True)
    return out, sorted(copies["conv_id"].unique().tolist())


def lineitem(n_rows: int, seed: int) -> pd.DataFrame:
    """A table with TPC-H ``lineitem``'s first eleven columns and value
    ranges: 1-7 lines per order, prices from quantity x part price."""
    rng = np.random.default_rng([seed, 2])
    lines = rng.integers(1, 8, size=n_rows)
    order_of_line = np.repeat(np.arange(1, n_rows + 1), lines)[:n_rows]
    starts = np.flatnonzero(np.r_[True, order_of_line[1:] != order_of_line[:-1]])
    linenumber = np.arange(n_rows) - np.repeat(starts, np.diff(np.r_[starts, n_rows])) + 1
    qty = rng.integers(1, 51, size=n_rows).astype(np.float64)
    part_price = np.round(rng.uniform(900.0, 2000.0, size=n_rows), 2)
    ship = np.datetime64("1992-01-02") + rng.integers(0, 2522, size=n_rows).astype("timedelta64[D]")
    flags = np.array(["R", "A", "N"], dtype=object)
    status = np.array(["O", "F"], dtype=object)
    return pd.DataFrame(
        {
            "l_orderkey": (order_of_line * 4).astype(np.int64),
            "l_partkey": rng.integers(1, 20_001, size=n_rows).astype(np.int64),
            "l_suppkey": rng.integers(1, 1_001, size=n_rows).astype(np.int64),
            "l_linenumber": linenumber.astype(np.int32),
            "l_quantity": qty,
            "l_extendedprice": np.round(qty * part_price, 2),
            "l_discount": rng.integers(0, 11, size=n_rows) / 100.0,
            "l_tax": rng.integers(0, 9, size=n_rows) / 100.0,
            "l_returnflag": flags[rng.integers(0, 3, size=n_rows)],
            "l_linestatus": status[rng.integers(0, 2, size=n_rows)],
            "l_shipdate": ship.astype("datetime64[us]"),
        }
    )


def write_parquet(pdf: pd.DataFrame, path: str, schema: pa.Schema | None = None) -> int:
    """Write ``pdf`` as one parquet file (64 row groups, so the scan splits
    across cores) through a temp name and a rename; returns its size."""
    tmp = f"{path}.tmp{os.getpid()}"
    table = pa.Table.from_pandas(pdf, schema=schema, preserve_index=False)
    pq.write_table(table, tmp, row_group_size=max(len(pdf) // 64, 1024))
    os.replace(tmp, path)
    return os.path.getsize(path)
